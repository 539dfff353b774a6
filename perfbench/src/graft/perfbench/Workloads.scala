package graft.perfbench

import graft.{RunPipeline, RunValidation}
import graft.checkpoint.CheckpointedRunner
import graft.ops.TrainingPipeline
import graft.run.Validator
import graft.suite.{Checks, CodeTable}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** One entry-point invocation: its wall time, the input it consumed, the
  * bytes Spark wrote and the Spark jobs it ran, and every way its output
  * disagreed with the expected one. */
final case class Inv(wallS: Double, rows: Long, inputBytes: Long, writtenBytes: Long, jobs: Long,
    problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** A timed section's result. `timed` are the invocations whose wall times
  * make up `invocation_s`; `storedPerInputByte` is work-dir bytes per byte
  * of input played into that work dir. */
final case class Measured(timed: Seq[Inv], storedPerInputByte: Double)

/** Runs and checks invocations, and keeps every one for the failure count. */
final class Harness(val spark: SparkSession, val trace: Trace, val dir: Path) {
  val all = scala.collection.mutable.ArrayBuffer.empty[Inv]

  def path(name: String): String = dir.resolve(name).toString

  /** Until `settle()`, expected-output derivations run on one daemon thread,
    * so they overlap the warm-up, whose Spark jobs leave cores idle; only
    * the checks wait for them. After it they run on the caller's thread, so
    * none overlaps a timed invocation. */
  private val derivations = ExecutionContext.fromExecutor(Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-derive"); t.setDaemon(true); t
  })
  private var overlap = true
  def background[T](body: => T): Future[T] =
    if (overlap) Future(body)(derivations) else Future.fromTry(Try(body))
  def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
  /** Waits for every queued derivation; later ones run synchronously. */
  def settle(): Unit = { await(Future(())(derivations)); overlap = false }

  /** Times `run`, then checks its result outside the timed interval. A full
    * collection first, so garbage of the inputs, the derivations and earlier
    * invocations is not collected inside the timed interval. */
  def invoke(rows: Long, inputBytes: Long)(run: => String)(check: String => Seq[String]): Inv = {
    System.gc()
    trace.drain()
    val w0 = trace.listener.outputBytesTotal
    val j0 = trace.listener.jobsTotal
    val t0 = System.nanoTime()
    val out = Try(run)
    val wall = (System.nanoTime() - t0) / 1e9
    trace.drain()
    val written = trace.listener.outputBytesTotal - w0
    val jobs = trace.listener.jobsTotal - j0
    val problems = out match {
      case Success(json) => Try(check(json)).fold(e => Seq(s"check threw: $e"), identity)
      case Failure(e) => e.printStackTrace(); Seq(s"invocation threw: $e")
    }
    problems.foreach(p => System.err.println(s"[perfbench] FAILED CHECK: $p"))
    val inv = Inv(wall, rows, inputBytes, written, jobs, problems)
    all += inv
    inv
  }

  /** Fails a traced invocation whose Spark job count differs from its
    * untraced twin's (same input, same starting state): the traced replay
    * of the entry point's calls no longer does the entry point's work. */
  def sameWork(untraced: Inv, traced: Inv): Unit =
    if (untraced.jobs != traced.jobs) {
      val p = s"traced replay ran ${traced.jobs} Spark jobs, the entry point ${untraced.jobs}"
      System.err.println(s"[perfbench] FAILED CHECK: $p")
      all(all.indexWhere(_ eq traced)) = traced.copy(problems = traced.problems :+ p)
    }

  /** Timed invocations until their wall times add up to `seconds` (at least
    * one; a failed one ends the section), each followed by a live-heap
    * sample. */
  def timedSection(seconds: Double)(next: => Inv): Seq[Inv] = {
    val timed = Seq.newBuilder[Inv]
    var sum = 0.0
    var ok = true
    while (sum < seconds && ok) {
      val inv = next
      Heap.sample()
      timed += inv
      sum += inv.wallS
      ok = inv.ok
    }
    timed.result()
  }
}

object Disk {
  /** Bytes of every regular file under `dir`: checksums and sidecars occupy
    * the disk as much as the data does. */
  def size(dir: String): Long =
    walk(dir, 0L)(_.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum())

  def remove(dir: String): Unit =
    walk(dir, ())(_.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)))

  /** A byte copy of a work dir, so two invocations can start from one state. */
  def copy(from: String, to: String): Unit = {
    remove(to)
    val src = Paths.get(from)
    walk(from, ())(_.forEach { p =>
      val q = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    })
  }

  private def walk[T](dir: String, absent: T)(f: java.util.stream.Stream[Path] => T): T = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) absent
    else { val s = Files.walk(p); try f(s) finally s.close() }
  }
}

/** A workload: set-up rounds, a warm-up, a timed section, a traced run. */
sealed trait Workload {
  /** One set-up round: write the seeded inputs and derive the expected
    * outputs. Rounds repeat; each rewrites the same files. */
  def generate(h: Harness): Unit
  /** The untimed warm-up invocation. It also leaves the work dir the timed
    * section starts from. */
  def warmUp(h: Harness): Unit
  def measure(h: Harness, seconds: Double): Measured
  /** A traced invocation of this side's entry point, with its per-layer
    * metrics; with `overhead`, also an untraced twin from the same input and
    * state, and the difference of the two wall times. */
  def traced(h: Harness, overhead: Boolean): Seq[(String, Double)]
}

object Workloads {
  def byName(name: String, seed: Long): Option[Workload] = name match {
    case "validate_incremental" => Some(new ValidateIncremental(seed, rows = 400000, perSnapshot = 1))
    case "pipeline_deltas" => Some(new PipelineDeltas(seed, docs = 5000))
    case _ => None
  }

  /** The traced run's other entry point, so every traced run reports every
    * layer. */
  def companion(w: Workload, seed: Long): Workload = w match {
    case _: PipelineDeltas => byName("validate_incremental", seed).get
    case _ => byName("pipeline_deltas", seed).get
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def overheadMetrics(untraced: Inv, traced: Inv): Seq[(String, Double)] = Seq(
    "trace.untraced_wall_s" -> untraced.wallS,
    "trace.traced_wall_s" -> traced.wallS,
    "trace.overhead_s" -> (traced.wallS - untraced.wallS))
}

// -----------------------------------------------------------------------------
// Validation side
// -----------------------------------------------------------------------------

/** Set-up stages and validates snapshot 0 of the code table; each timed
  * invocation revalidates a new snapshot in which `perSnapshot` of the
  * staged buckets changed, with `--restage --incremental`. */
final class ValidateIncremental(seed: Long, rows: Long, perSnapshot: Int) extends Workload {
  import ValidateIncremental._
  private val changes = Gen.changeSets(seed, 256, perSnapshot)
  private var dim = ""
  private var work = ""
  private var base: Snapshot = _
  private var want: Future[ValidationCounts] = _
  private var k = 0

  private def argv(input: String, work: String, restage: Boolean): Array[String] =
    (Seq("--input", input, "--work", work, "--buckets", Gen.Buckets.toString, "--incremental",
      "--dim", dim, "--profile", "repo,lang,content", "--unique", "repo,path,commit",
      "--fd", "repo:lang") ++ (if (restage) Seq("--restage") else Nil)).toArray

  /** Writes snapshot `j` (j >= 1). A snapshot changes only the content of
    * its changed buckets, and content and its checksum change together, so
    * no counted rule sees the change: snapshot 0's expected counts hold. */
  private def write(h: Harness, j: Int): Snapshot = {
    val path = h.path(s"snapshot-$j")
    Gen.codeTable(h.spark, rows, seed, Gen.versionsAt(changes, j))
      .write.mode(SaveMode.Overwrite).parquet(path)
    Snapshot(path, base.rows, Disk.size(path))
  }

  def generate(h: Harness): Unit = {
    val path = h.path("snapshot-0")
    Gen.codeTable(h.spark, rows, seed).write.mode(SaveMode.Overwrite).parquet(path)
    dim = h.path("dim")
    Gen.dim(h.spark.read.parquet(path), rows).write.mode(SaveMode.Overwrite).parquet(dim)
    want = h.background(Expect.validation(h.spark.read.parquet(path), h.spark.read.parquet(dim)))
    base = Snapshot(path, h.spark.read.parquet(path).count(), Disk.size(path))
  }

  private def validate(h: Harness, s: Snapshot, work: String, restage: Boolean, processed: Int): Inv =
    h.invoke(s.rows, s.bytes)(RunValidation.run(h.spark, RunValidation.parse(argv(s.path, work, restage))))(
      Expect.checkValidation(_, h.await(want), processed, Gen.Buckets))

  def warmUp(h: Harness): Unit = {
    work = h.path("work")
    Disk.remove(work)
    validate(h, base, work, restage = false, Gen.Buckets)
    k = 0
  }

  /** Writes the next snapshot (untimed), then runs `run` over it. */
  private def next[T](h: Harness)(run: Snapshot => T): T = {
    k += 1
    val s = write(h, k)
    try run(s) finally Disk.remove(s.path)
  }

  def measure(h: Harness, seconds: Double): Measured = {
    val timed = h.timedSection(seconds)(next(h)(validate(h, _, work, restage = true, perSnapshot)))
    Measured(timed, Disk.size(work).toDouble / timed.last.inputBytes)
  }

  def traced(h: Harness, overhead: Boolean): Seq[(String, Double)] = {
    val twin = h.path("work-traced")
    Disk.copy(work, twin)
    val k0 = k
    val untraced = if (overhead) Some(next(h)(validate(h, _, work, restage = true, perSnapshot))) else None
    k = k0 // the traced twin revalidates the same snapshot from the same state
    val (inv, metrics) = next(h)(tracedValidate(h, _, twin))
    untraced.foreach(h.sameWork(_, inv))
    metrics ++ untraced.toSeq.flatMap(Workloads.overheadMetrics(_, inv))
  }

  /** RunValidation.run's layer calls for this workload's flags, in its
    * order, each in a span. Builds a summary of the entry point's shape, so
    * the same check applies. The argument guards and the bucketed-table
    * branch (not taken with these flags) are left out. */
  private def tracedValidate(h: Harness, s: Snapshot, work: String): (Inv, Seq[(String, Double)]) = {
    val spark = h.spark
    val tr = h.trace
    val a = RunValidation.parse(argv(s.path, work, restage = true))
    val keys = Seq("repo", "path")
    val staging = s"${a.work}/staging"
    val manifest = s"${a.work}/manifest"
    val outDir = s"${a.work}/violations"
    var processed = 0
    val inv = h.invoke(s.rows, s.bytes) {
      tr.span("checkpoint.stage") {
        val rowHash = xxhash64((keys ++ Seq("commit", "lang", "content_sha256")).map(col): _*)
        CheckpointedRunner.stage(spark.read.parquet(a.input), keys, a.buckets, staging, Some(rowHash))
        val fs = new org.apache.hadoop.fs.Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(new org.apache.hadoop.fs.Path(staging, RunValidation.BucketCountFile), true)
        try out.write(s"${a.buckets}\n".getBytes("UTF-8")) finally out.close()
      }
      def process(in: DataFrame): DataFrame =
        Validator.validate(CodeTable.codeSchema, in.withColumn("sha_fixture", col("content_sha256"))).violations
      val runId = s"run-${java.util.UUID.randomUUID().toString.take(8)}"
      processed = tr.span("checkpoint.run") {
        CheckpointedRunner.incrementalRun(spark, staging, manifest, outDir, a.buckets, process,
          Seq("repo", "path", "constraint_id"), runId, keys)
      }.size
      val staged = spark.read.parquet(staging)
      val prof = tr.span("suite.profile")(Checks.profile(staged, a.profileCols).collect())
        .map(r => s""""${r.getString(0)}":{"rows":${r.getLong(1)},"nulls":${r.getLong(2)},"distinct":${r.getLong(3)}}""")
      val dups = tr.span("suite.uniqueness")(Checks.uniqueness(staged, a.uniqueKeys).count())
      val (dets, dep) = a.fd.get
      val fd = tr.span("suite.fd") {
        Checks.functionalDependencyViolations(staged, dets, dep)
          .agg(count(lit(1)), coalesce(sum(col("minority_rows")), lit(0L))).collect().head
      }
      val dangling = tr.span("suite.referential") {
        Checks.referentialViolations(staged, Seq("commit"), spark.read.parquet(a.dim.get), Seq("commit"),
          broadcastDim = true, keyCols = keys).count()
      }
      val done = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(manifest)
        .filter(col("status") === "done").select("bucket").distinct().count()
      val viols = spark.read.parquet(outDir).count()
      s"""{"processed_buckets":$processed,"done_buckets":$done,"violations":$viols,""" +
        s""""profile":{${prof.mkString(",")}},"duplicate_keys":$dups,""" +
        s""""fd_violating_groups":${fd.getLong(0)},"fd_minority_rows":${fd.getLong(1)},"dangling_refs":$dangling}"""
    }(Expect.checkValidation(_, h.await(want), perSnapshot, Gen.Buckets))

    // planning of the row-rule projection, timed on its own
    val plan = tr.span("compile.plan") {
      Validator.validate(CodeTable.codeSchema,
        spark.read.parquet(staging).withColumn("sha_fixture", col("content_sha256")))
        .violations.queryExecution.executedPlan
    }
    val spans = Seq("checkpoint.stage", "checkpoint.run", "suite.profile", "suite.uniqueness",
      "suite.fd", "suite.referential")
    (inv, spans.flatMap(tr.spanMetrics) ++ Seq(
      "compile.plan.wall_s" -> tr.listener.span("compile.plan").wallS,
      "compile.plan.non_codegen_ops" -> ValidateIncremental.nonCodegenOps(plan).toDouble,
      "checkpoint.run.buckets_processed" -> processed.toDouble))
  }
}

object ValidateIncremental {
  final case class Snapshot(path: String, rows: Long, bytes: Long)

  /** Physical operators that run outside whole-stage codegen. */
  def nonCodegenOps(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nonCodegenOps(a.executedPlan)
    case q: QueryStageExec => nonCodegenOps(q.plan)
    case w: WholeStageCodegenExec => insideCodegen(w.child)
    case other => 1 + other.children.map(nonCodegenOps).sum
  }

  private def insideCodegen(p: SparkPlan): Int = p match {
    case i: InputAdapter => nonCodegenOps(i.child)
    case other => other.children.map(insideCodegen).sum
  }
}

// -----------------------------------------------------------------------------
// Pipeline side
// -----------------------------------------------------------------------------

/** RunPipeline.run plays delta 0 (the warm-up, which bootstraps the indexes)
  * and then deltas 1, 2, ... (timed) into one work dir, then redelivers the
  * last delta. */
final class PipelineDeltas(seed: Long, docs: Int) extends Workload {
  import PipelineDeltas._
  private val deltaBytes = scala.collection.mutable.Map.empty[Int, Long]
  private val want = scala.collection.mutable.Map.empty[Int, Future[PipelineCounts]]
  private var probe = ""
  private var work = ""

  private def deltaPath(h: Harness, k: Int) = h.path(s"delta-$k")

  private def argv(h: Harness, work: String, k: Int): Array[String] = Array(
    "--input", deltaPath(h, k), "--work", work, "--probe", probe, "--max-top-word-pct", MaxTopWordPct.toString)

  /** Writes delta `k` and derives its expected drops against the deltas
    * before it. */
  private def writeDelta(h: Harness, k: Int): Unit = {
    Gen.delta(h.spark, seed, k, docs, ProbeTexts).write.mode(SaveMode.Overwrite).parquet(deltaPath(h, k))
    deltaBytes(k) = Disk.size(deltaPath(h, k))
    val earlier = (0 until k).map(j => h.spark.read.parquet(deltaPath(h, j))).reduceOption(_ union _)
    want(k) = h.background(Expect.pipeline(h.spark.read.parquet(deltaPath(h, k)), earlier,
      h.spark.read.parquet(probe), DecontamN, MaxTopWordPct))
  }

  /** Writes the probe and deltas 0 and 1; later deltas are written when the
    * timed section reaches them, between invocations. */
  def generate(h: Harness): Unit = {
    probe = h.path("probe")
    Gen.probe(h.spark, seed, ProbeTexts).write.mode(SaveMode.Overwrite).parquet(probe)
    deltaBytes.clear()
    Seq(0, 1).foreach(writeDelta(h, _))
  }

  /** Delta 0 meets an empty index, so its near-duplicates are pairs within
    * the delta; on those the program finds ~91% of the planted pairs (all of
    * them against the index), so its `near_dups` is held to at most the
    * derived count. */
  private def check(h: Harness, k: Int)(json: String): Seq[String] = {
    val out = """"out":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
    val written = out.map(h.spark.read.parquet(_).count())
    Expect.checkPipeline(json, h.await(want(k)), nearAtMost = k == 0) ++
      (if (written.isDefined && Expect.field(json, "output") == written) None
       else Some(s"corpus holds $written rows, report says ${Expect.field(json, "output")}"))
  }

  /** One checked RunPipeline.run of delta `k`; `wrap` surrounds only the
    * entry-point call, never the check. */
  private def play(h: Harness, work: String, k: Int, wrap: (=> String) => String = s => s,
      extraCheck: String => Seq[String] = _ => Nil): (Inv, String) = {
    if (!deltaBytes.contains(k)) writeDelta(h, k)
    var json = ""
    val inv = h.invoke(docs, deltaBytes(k)) {
      json = wrap(RunPipeline.run(h.spark, RunPipeline.parse(argv(h, work, k)))); json
    }(out => check(h, k)(out) ++ extraCheck(out))
    (inv, json)
  }

  /** Delta `k` again: every stage must load and the report must repeat. */
  private def redeliver(h: Harness, work: String, k: Int, first: String,
      wrap: (=> String) => String = s => s): (Inv, String) =
    play(h, work, k, wrap, json =>
      Expect.ReportFields.flatMap { f =>
        val (a, b) = (Expect.field(first, f), Expect.field(json, f))
        if (a == b) None else Some(s"redelivered $f: first $a, again $b")
      } ++ (if (Expect.field(json, "stages_computed").contains(0L)) None
            else Some(s"redelivery computed stages: $json")))

  def warmUp(h: Harness): Unit = {
    work = h.path("corpus")
    Disk.remove(work)
    play(h, work, 0)
  }

  def measure(h: Harness, seconds: Double): Measured = {
    var k = 0
    var last = ""
    val timed = h.timedSection(seconds) {
      k += 1
      val (inv, json) = play(h, work, k)
      last = json
      inv
    }
    redeliver(h, work, k, last)
    Measured(timed, Disk.size(work).toDouble / (0 to k).map(deltaBytes).sum)
  }

  /** runDelta's stages in order, without an embedding column, and the span
    * each one's work is counted in. */
  private val StageSpans = Seq(
    "prepare" -> "ops.prepare", "lexdedup" -> "ops.lexdedup", "mhappend" -> "ops.index_append",
    "decontam" -> "ops.decontam", "quality" -> "ops.quality")

  /** RunPipeline.run's calls for delta `k`, with the delta's stages stamped
    * through runDelta's `onStageComputed` hook: each stamp closes the stage's
    * span and opens the next stage's. */
  private def tracedPlay(h: Harness, work: String, k: Int): (Inv, String, Long) = {
    val spark = h.spark
    val a = RunPipeline.parse(argv(h, work, k))
    var droppedIds = 0L
    var json = ""
    val inv = h.invoke(docs, deltaBytes(k)) {
      val relay = new h.trace.Relay(StageSpans.head._2)
      try {
        val delta = spark.read.parquet(a.input)
        val probe = a.probe.map(p => (spark.read.parquet(p), a.probeId, a.probeText))
        val onStage: String => Unit = { stage =>
          val i = StageSpans.indexWhere { case (s, _) => stage.endsWith(s"_$s") }
          relay.switchTo(if (i + 1 < StageSpans.size) StageSpans(i + 1)._2 else "ops.write")
        }
        val result = TrainingPipeline.runDelta(
          delta, a.id, a.text, a.work, schema = None, paramsKey = "", extraFingerprintCols = Nil,
          probe = probe, embCol = a.emb, deletions = None,
          minhashThreshold = a.minhashThreshold,
          minQualityScore = a.minQuality, maxTopWordPct = a.maxTopWordPct,
          semanticThreshold = a.semanticThreshold, numCells = a.cells,
          usePqCodes = a.usePq, pqM = a.pqM, pqKSub = a.pqKSub, pqAdcMargin = a.pqMargin,
          splits = a.splits, packBudget = a.packBudget, onStageComputed = onStage)
        val outDir = s"${a.work}/out/delta_${result.tag}"
        result.corpus.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "static")
          .partitionBy("split").parquet(outDir)
        val r = result.report
        droppedIds = r.nearDupDroppedIds
        json = s"""{"input":${r.input},"invalid":${r.invalid},"exact_dups":${r.exactDups},""" +
          s""""near_dups":${r.nearDups},"contaminated":${r.contaminated},""" +
          s""""low_quality":${r.lowQuality},"semantic_dups":${r.semanticDups},""" +
          s""""output":${r.output},"dropped_buckets":${r.nearDupDroppedBuckets},""" +
          s""""dropped_ids":${r.nearDupDroppedIds},"out":"$outDir"}"""
        json
      } finally relay.close()
    }(check(h, k))
    (inv, json, droppedIds)
  }

  def traced(h: Harness, overhead: Boolean): Seq[(String, Double)] = {
    val twin = h.path("corpus-traced")
    Disk.copy(work, twin)
    val untraced = if (overhead) Some(play(h, work, 1)._1) else None
    val (inv, json, droppedIds) = tracedPlay(h, twin, 1)
    untraced.foreach(h.sameWork(_, inv))
    val replay = redeliver(h, twin, 1, json, run => h.trace.span("ops.replay")(run))._2
    val loaded = Expect.field(replay, "stages_loaded").getOrElse(0L)
    val computed = Expect.field(replay, "stages_computed").getOrElse(0L)
    val spans = Seq("ops.prepare", "ops.lexdedup", "ops.index_append", "ops.decontam", "ops.quality",
      "ops.write")
    spans.flatMap(h.trace.spanMetrics) ++ Seq(
      "ops.replay.wall_s" -> h.trace.listener.span("ops.replay").wallS,
      "ops.replay.stages_loaded_frac" -> loaded.toDouble / math.max(loaded + computed, 1L),
      "ops.lexdedup.dropped_ids" -> droppedIds.toDouble) ++
      untraced.toSeq.flatMap(Workloads.overheadMetrics(_, inv))
  }
}

object PipelineDeltas {
  val ProbeTexts = 50
  /** runDelta's default n-gram length for decontamination. */
  val DecontamN = 13
  val MaxTopWordPct = 60
}
