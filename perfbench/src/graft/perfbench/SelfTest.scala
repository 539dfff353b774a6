package graft.perfbench

import graft.{RunPipeline, RunValidation}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** Self-tests of the benchmark's own code (`python3 perfbench/run.py
  * --selftest`): the listener's accounting, and the expected-count
  * derivation on a tiny input. Exits 0 when every check holds. */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean, detail: => String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val o = Main.parse(argv.toList)
    val dir = Paths.get(o.dir).toAbsolutePath
    Files.createDirectories(dir)
    val spark = Main.session(dir, o.cores)
    try {
      listenerAccounting(spark, o.cores)
      derivation(spark, dir)
      pipelineDerivation(spark, dir)
    } catch {
      case e: Throwable => e.printStackTrace(); failures += 1
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }

  /** Spans over a shuffle, a skewed stage and a broadcast join: task time
    * fits in wall time x cores, and span task counts equal the status
    * store's totals over the same stages. */
  def listenerAccounting(spark: SparkSession, cores: Int): Unit = {
    val tr = new Trace(spark.sparkContext, cores)
    tr.span("shuffle") {
      spark.range(0, 400000, 1, 8).groupBy(col("id") % 97).count().collect()
    }
    tr.span("skewed") {
      spark.range(0, 2000000, 1, 4)
        .repartition(8, when(col("id") < 1900000, lit(0)).otherwise(col("id") % 8))
        .select(max(sha2(col("id").cast("string"), 256)))
        .collect()
    }
    tr.span("broadcast") {
      val small = spark.range(0, 100).withColumnRenamed("id", "k")
      spark.range(0, 100000, 1, 4).join(broadcast(small), col("id") % 100 === col("k")).count()
    }
    tr.drain()
    val l = tr.listener
    for (name <- Seq("shuffle", "skewed", "broadcast")) {
      val s = l.span(name)
      check(s"$name: ran jobs and tasks", s.jobs > 0 && s.tasks > 0, s"jobs ${s.jobs} tasks ${s.tasks}")
      // executorRunTime is whole milliseconds per task: allow 1 ms each
      check(s"$name: task_s <= wall_s x cores",
        s.taskS <= s.wallS * cores + s.tasks * 0.001, s"task_s ${s.taskS} wall_s ${s.wallS}")
    }
    check("every task attributed to a span",
      l.span(Trace.Unattributed).tasks == 0, s"${l.span(Trace.Unattributed).tasks} unattributed")
    val st = spark.sparkContext.statusTracker
    val store = l.stagesSeen.toSeq.flatMap(id => st.getStageInfo(id))
      .map(i => (i.numCompletedTasks + i.numFailedTasks).toLong).sum
    val spans = Seq("shuffle", "skewed", "broadcast").map(l.span(_).tasks).sum
    check("span task counts equal the status store's", spans == store && spans == l.tasksTotal,
      s"spans $spans, store $store, listener ${l.tasksTotal}")
    check("skewed stage reads as skewed", l.span("skewed").skew > 2.0, s"skew ${l.span("skewed").skew}")
  }

  /** The expected counts on hand-built rows whose violations are known, then
    * RunValidation's own output on those rows and on a small generated
    * table equal to the derived counts. */
  def derivation(spark: SparkSession, dir: java.nio.file.Path): Unit = {
    val good = "0123456789abcdef0123456789abcdef01234567"
    val other = "fedcba9876543210fedcba9876543210fedcba98"
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // (id, repo, path, commit, lang, content, content_sha256): violations in the comment
    val rows = Seq(
      (0L, "a/b", "src/x.scala", good, "scala", "x", sha("x")),             // 0
      (1L, "a/b", "///bad path", good, "scala", "x", sha("x")),             // 1 path format
      (2L, "a/b", "src/y.scala", good, "klingon", "x", sha("x")),           // 1 lang inclusion, fd
      (3L, "a/b", "src/z.scala", good, "scala", "", sha("")),               // 1 content required
      (4L, null, "src/w.scala", good, "scala", "x", sha("x")),              // 1 repo required
      (5L, "c/d", "src/v.scala", "XYZ", "go", "x", sha("x")),               // 2 commit format, length
      (6L, "c/d", "src/u.scala", good, "go", "x", sha("y")),                // 1 content parity
      (7L, "c/d", "", good, "go", "x", sha("x")),                           // 1 path required
      (8L, "c/d", "src/t.scala", other, "go", "x", sha("x")),               // 0, dangling
      (9L, "c/d", "src/t.scala", other, "go", "x", sha("x")))               // 0, duplicate key of 8
    val schema = StructType(Seq("id" -> LongType, "repo" -> StringType, "path" -> StringType,
      "commit" -> StringType, "lang" -> StringType, "content" -> StringType,
      "content_sha256" -> StringType).map { case (n, t) => StructField(n, t) })
    val table = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row.fromTuple(r)), 2), schema)
    val dim = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("a/b", good), Row("c/d", good), Row(null, good)), 1),
      StructType(Seq(StructField("repo", StringType), StructField("commit", StringType))))
    val got = Expect.validation(table, dim)
    // fd repo -> lang: a/b has {scala, klingon} (minority 1); c/d only go;
    // null repo holds one row. Dangling: commits XYZ (row 5) and `other` (8, 9).
    val want = ValidationCounts(rows = 10, violations = 8, duplicateKeys = 1, danglingRefs = 3,
      fdGroups = 1, fdMinorityRows = 1)
    check("derived counts on hand-built rows", got == want, s"got $got, want $want")

    // the program agrees with the derivation on the same rows
    val input = dir.resolve("tiny").toString
    val dimPath = dir.resolve("tiny-dim").toString
    table.write.mode("overwrite").parquet(input)
    dim.write.mode("overwrite").parquet(dimPath)
    def argv(in: String, d: String, work: String, buckets: Int) = Array("--input", in,
      "--work", work, "--buckets", buckets.toString, "--incremental", "--dim", d,
      "--profile", "repo,lang,content", "--unique", "repo,path,commit", "--fd", "repo:lang")
    val json = RunValidation.run(spark,
      RunValidation.parse(argv(input, dimPath, dir.resolve("tiny-work").toString, 4)))
    val mismatch = Expect.checkValidation(json, want, processedBuckets = 0, buckets = 4)
      .filterNot(m => m.startsWith("processed_buckets") || m.startsWith("done_buckets") ||
        m.startsWith("profile"))
    check("RunValidation agrees on hand-built rows", mismatch.isEmpty, mismatch.mkString("; "))

    // and on a small generated table, through the same check the benchmark runs
    val gen = dir.resolve("gen").toString
    val genDim = dir.resolve("gen-dim").toString
    Gen.codeTable(spark, 20000, seed = 3).write.mode("overwrite").parquet(gen)
    Gen.dim(spark.read.parquet(gen), 20000).write.mode("overwrite").parquet(genDim)
    val genWant = Expect.validation(spark.read.parquet(gen), spark.read.parquet(genDim))
    check("generated table plants every violation kind",
      genWant.violations > 0 && genWant.duplicateKeys > 0 && genWant.danglingRefs > 0 &&
        genWant.fdGroups > 0, s"$genWant")
    val changed = Gen.codeTable(spark, 20000, seed = 3, Gen.versionsAt(Gen.changeSets(3, 1, 4), 1))
    val changedWant = Expect.validation(changed, spark.read.parquet(genDim))
    check("a changed snapshot keeps snapshot 0's counts", changedWant == genWant,
      s"changed $changedWant, snapshot 0 $genWant")
    check("a changed snapshot changes content", changed.join(spark.read.parquet(gen),
      Seq("id", "content"), "left_anti").count() > 0, "no content changed")
    val genJson = RunValidation.run(spark, RunValidation.parse(
      argv(gen, genDim, dir.resolve("gen-work").toString, Gen.Buckets)))
    val genMismatch = Expect.checkValidation(genJson, genWant, Gen.Buckets, Gen.Buckets)
    check("RunValidation agrees on a generated table", genMismatch.isEmpty, genMismatch.mkString("; "))
  }

  /** The expected pipeline drops on hand-built docs whose fate is known,
    * then RunPipeline's own reports on two small generated deltas. */
  def pipelineDerivation(spark: SparkSession, dir: java.nio.file.Path): Unit = {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    def text(words: Seq[String]) = words.mkString(" ")
    val a = ws("a", 50)
    val c = ws("c", 50)
    val probeWords = ws("p", 20)
    val docs = Seq(
      1L -> text(ws("b", 50)),                                  // kept
      2L -> text(ws("b", 50)),                                  // exact copy of 1
      3L -> text(a.updated(45, "edit")),                        // near: prefix of indexed 100
      4L -> text(c),                                            // kept
      5L -> text(c.updated(45, "edit")),                        // near: prefix of 4, higher id
      6L -> text(ws("d", 30) ++ probeWords.take(13) ++ ws("e", 10)), // contaminated
      7L -> text(Seq.fill(40)("f") ++ ws("g", 10)),             // low quality: 80% one word
      8L -> text(Seq.fill(25)("h") ++ ws("i", 25)))             // kept: 50% is under the cap
    def frame(rows: Seq[(Long, String)], id: String, txt: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 2),
      StructType(Seq(StructField(id, LongType, nullable = false), StructField(txt, StringType))))
    val got = Expect.pipeline(frame(docs, "doc_id", "text"), Some(frame(Seq(100L -> text(a)), "doc_id", "text")),
      frame(Seq(0L -> text(probeWords)), "pid", "ptext"), n = 13, maxTopWordPct = 60)
    val want = PipelineCounts(docs = 8, exactDups = 1, nearDups = 2, contaminated = 1, lowQuality = 1)
    check("derived pipeline drops on hand-built docs", got == want, s"got $got, want $want")

    // the program agrees on two small generated deltas: 0 on an empty index,
    // 1 against the index 0 left
    val probe = dir.resolve("pipe-probe").toString
    Gen.probe(spark, seed = 5, PipelineDeltas.ProbeTexts).write.mode("overwrite").parquet(probe)
    val paths = (0 to 1).map { k =>
      val p = dir.resolve(s"pipe-delta-$k").toString
      Gen.delta(spark, seed = 5, k, docs = 1000, PipelineDeltas.ProbeTexts).write.mode("overwrite").parquet(p)
      p
    }
    for (k <- 0 to 1) {
      val want = Expect.pipeline(spark.read.parquet(paths(k)),
        if (k == 0) None else Some(spark.read.parquet(paths(0))), spark.read.parquet(probe),
        PipelineDeltas.DecontamN, PipelineDeltas.MaxTopWordPct)
      check(s"generated delta $k plants every drop kind",
        want.exactDups > 0 && want.nearDups > 0 && want.contaminated > 0 && want.lowQuality > 0, s"$want")
      val json = RunPipeline.run(spark, RunPipeline.parse(Array("--input", paths(k),
        "--work", dir.resolve("pipe-work").toString, "--probe", probe,
        "--max-top-word-pct", PipelineDeltas.MaxTopWordPct.toString)))
      val mismatch = Expect.checkPipeline(json, want, nearAtMost = k == 0)
      check(s"RunPipeline agrees on generated delta $k", mismatch.isEmpty, mismatch.mkString("; "))
    }
  }
}
