"""graft benchmark launcher.

    python3 perfbench/run.py --workload validate_incremental --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in one JVM on at most four local Spark cores, and prints every
metric by name and unit, then the result object as the last stdout line.
Everything it writes stays under the checkout: `.bench_build/` (classes) and
`.bench_work/` (inputs, work dirs, Spark scratch; removed after each run).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("validate_incremental", "pipeline_deltas")
JVM_TIMEOUT_S = 170
# the JVM flags RunValidation/RunPipeline get from the build (JDK 17 module
# opens Spark needs outside spark-submit, throughput GC, UTC)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(cp, main, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java_bin(), "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    # JVM stdout (the entry points' summary lines) goes to our stderr, so
    # stdout carries only the metrics and the result object
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = build.ROOT
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    # one core of at most four stays free for the thread that plans and
    # submits the ~40-160 Spark jobs of each invocation: with all four busy,
    # one delta's wall time swings +-5% within a JVM, with three +-2.5%
    cores = max(min(os.cpu_count() or 1, 4) - 1, 1)
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            return jvm(cp, "graft.perfbench.SelfTest", ["--dir", work, "--cores", str(cores)],
                       work, JVM_TIMEOUT_S)
        result = os.path.join(work, "result.json")
        code = jvm(cp, "graft.perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(cores), "--dir", work,
                    "--result", result], work, JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(result):
            print(f"[perfbench] benchmark JVM exited with {code}", file=sys.stderr)
            return 1
        with open(result) as f:
            line = f.read().strip()
        out = json.loads(line)
        for name, m in out["metrics"].items():
            print(f"{name} {m['value']} {m['unit']}")
        print(json.dumps(out))
        return 0
    except subprocess.TimeoutExpired:
        print(f"[perfbench] benchmark JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
