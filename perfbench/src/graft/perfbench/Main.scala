package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM side. Runs one workload in one process and writes the
  * result object (the last line the launcher prints) to `--result`.
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                        --dir D --result F [--cores C]
  *
  * With `--trace 0`: set-up, then the timed section; end-to-end metrics.
  * With `--trace 1`: set-up of both entry points, then their traced
  * invocations; per-layer metrics. */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, dir: String = "", result: String = "", cores: Int = 4)

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--dir" :: v :: t => parse(t, o.copy(dir = v))
    case "--result" :: v :: t => parse(t, o.copy(result = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case Nil => o
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** The session RunValidation.main / RunPipeline.main build, on `cores`
    * local cores, with every file it writes kept under `dir`. */
  def session(dir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    val dir = Paths.get(o.dir).toAbsolutePath
    Files.createDirectories(dir)
    val code =
      try {
        val w = Workloads.byName(o.workload, o.seed)
          .getOrElse(throw new IllegalArgumentException(s"unknown workload: ${o.workload}"))
        val out = if (o.trace) traced(w, o, dir) else untraced(w, o, dir)
        Files.write(Paths.get(o.result), (out + "\n").getBytes("UTF-8"))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  private def result(all: Seq[Inv], metrics: Seq[(String, Double, String)]): String = {
    val failed = all.count(!_.ok)
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** `setup_s` is session start, input generation, the expected-output
    * derivation and the one warm-up invocation. */
  private def untraced(w: Workload, o: Opts, dir: Path): String = {
    val t0 = System.nanoTime()
    val spark = session(dir, o.cores)
    val h = new Harness(spark, new Trace(spark.sparkContext, o.cores), dir)
    val started = (System.nanoTime() - t0) / 1e9
    w.generate(h)
    val inputs = (System.nanoTime() - t0) / 1e9
    w.warmUp(h)
    h.settle()
    val setup = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: $setup%.3f s (session $started%.3f s, " +
      f"inputs ${inputs - started}%.3f s, warm-up ${setup - inputs}%.3f s)")
    val m = w.measure(h, o.seconds)
    val times = m.timed.map(_.wallS)
    System.err.println(s"[perfbench] timed: ${times.map(t => f"$t%.3f").mkString(" ")} s")
    result(h.all.toSeq, Seq(
      ("invocation_s", Workloads.median(times), "s"),
      ("rows_per_s", m.timed.map(_.rows).sum / times.sum, "rows/s"),
      ("bytes_written_per_input_byte",
        m.timed.map(_.writtenBytes).sum.toDouble / m.timed.map(_.inputBytes).sum, "ratio"),
      ("bytes_stored_per_input_byte", m.storedPerInputByte, "ratio"),
      ("live_heap_peak_mb", Heap.peakMb, "MB"),
      ("setup_s", setup, "s")))
  }

  private def traced(w: Workload, o: Opts, dir: Path): String = {
    val spark = session(dir, o.cores)
    val h = new Harness(spark, new Trace(spark.sparkContext, o.cores), dir)
    val other = Workloads.companion(w, o.seed)
    Seq(w, other).foreach { x => x.generate(h); x.warmUp(h) }
    h.settle()
    val metrics = w.traced(h, overhead = true) ++ other.traced(h, overhead = false)
    result(h.all.toSeq, metrics.map { case (n, v) => (n, v, unitOf(n)) })
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_s" | "task_s" | "overhead_s" | "untraced_wall_s" | "traced_wall_s" => "s"
    case "shuffle_bytes" | "spill_bytes" => "bytes"
    case "parallelism" | "skew" | "stages_loaded_frac" => "ratio"
    case _ => "count"
  }
}
