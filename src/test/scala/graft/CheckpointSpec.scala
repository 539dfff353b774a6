package graft

import graft.checkpoint.CheckpointedRunner
import graft.run.Validator
import graft.suite.CodeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** N9: kill-and-resume yields identical final outputs; manifest records
  * per-bucket lineage + metrics; completed buckets are never re-read.
  */
class CheckpointSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-ckpt").toString

  private val numBuckets = 8

  private def process(in: DataFrame): DataFrame =
    Validator.validate(CodeTable.codeSchema,
      in.withColumn("sha_fixture", col("content_sha256"))).violations

  test("kill after k buckets, resume processes exactly the complement; outputs identical") {
    val root = tmp()
    val staging = s"$root/staging"; val out1 = s"$root/out1"; val m1 = s"$root/m1"
    val df = CodeTable.generate(spark, 5000)
    CheckpointedRunner.stage(df, Seq("repo", "path"), numBuckets, staging)

    // full run in one go
    val all = CheckpointedRunner.run(spark, staging, m1, out1, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-a", keyCols = Seq("repo", "path"))
    assert(all === (0 until numBuckets))

    // interrupted run: only 3 buckets, then resume
    val out2 = s"$root/out2"; val m2 = s"$root/m2"
    val first = CheckpointedRunner.run(spark, staging, m2, out2, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-b", keyCols = Seq("repo", "path"), maxBuckets = 3)
    assert(first === Seq(0, 1, 2))
    val resumed = CheckpointedRunner.run(spark, staging, m2, out2, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-b2", keyCols = Seq("repo", "path"))
    assert(resumed === (3 until numBuckets))

    // identical final content
    val a = spark.read.parquet(out1)
    val b = spark.read.parquet(out2)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)

    // third invocation: nothing pending, nothing reprocessed
    val again = CheckpointedRunner.run(spark, staging, m2, out2, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-b3", keyCols = Seq("repo", "path"))
    assert(again.isEmpty)

    // manifest carries lineage + metrics
    val manifest = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m2)
    assert(manifest.count() === numBuckets)
    val row = manifest.filter(col("bucket") === 0).collect().head
    assert(row.getAs[String]("input_path") === staging)
    assert(row.getAs[Long]("rows") > 0)
    assert(row.getAs[String]("status") === "done")
  }

  test("multi-bucket run is ONE write job (+2 metric aggregates), not one per bucket") {
    // the round-1 runner launched 4 jobs PER bucket (process, count, write,
    // rescan) with coalesce(1) writes — serial and single-task at 100 TB scale
    val root = tmp()
    val staging = s"$root/staging"
    CheckpointedRunner.stage(CodeTable.generate(spark, 4000), Seq("repo", "path"), numBuckets, staging)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CheckpointedRunner.run(spark, staging, s"$root/m", s"$root/out", numBuckets,
        process, Seq("repo", "path", "constraint_id"), runId = "one-job",
        keyCols = Seq("repo", "path"))
      Thread.sleep(500) // let queued listener events drain
      // write + rows-per-bucket agg + sink agg + manifest write, plus AQE
      // sub-jobs and parquet footer jobs — bounded (~9), NOT proportional to
      // the 8 buckets (the round-1 loop launched ~4 jobs x 8 buckets = 32)
      assert(jobs.get() <= 12, s"expected a bounded job count, got ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("process() that re-maps key values fails fast — never overwrites a completed bucket") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    CheckpointedRunner.stage(CodeTable.generate(spark, 2000), Seq("repo", "path"), numBuckets, staging)
    // complete buckets 0..2
    CheckpointedRunner.run(spark, staging, m, out, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "good", keyCols = Seq("repo", "path"),
      maxBuckets = 3)
    val committed = spark.read.parquet(out).count()
    // a broken process() that rewrites the key: rows hash to arbitrary (often
    // completed) buckets — the run must fail BEFORE the write commits
    val broken: DataFrame => DataFrame =
      in => process(in).withColumn("path", concat(lit("REMAPPED/"), col("path")))
    val ex = intercept[Exception] {
      CheckpointedRunner.run(spark, staging, m, out, numBuckets,
        broken, Seq("repo", "path", "constraint_id"), runId = "bad", keyCols = Seq("repo", "path"))
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("non-pending bucket")), msgs.mkString(" | "))
    // committed output intact, manifest unchanged (still 3 buckets done)
    assert(spark.read.parquet(out).count() === committed)
    assert(CheckpointedRunner.completedBuckets(spark, m) === Set(0, 1, 2))
  }

  test("incremental revalidation: exactly the content-changed buckets re-run; removed buckets cleaned; final output equals from-scratch") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val sortCols = Seq("repo", "path", "constraint_id")
    val keys = Seq("repo", "path")
    val df = CodeTable.generate(spark, 3000)
    CheckpointedRunner.stage(df, keys, numBuckets, staging)

    val first = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-a", keyCols = keys)
    assert(first === (0 until numBuckets)) // cold start: everything pending
    // identical content => second invocation is a no-op (content-addressed)
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-b", keyCols = keys).isEmpty)

    // snapshot 2: edit the content of ~1/7 of rows (sha fixture updated with
    // it), and remove EVERY row of one bucket entirely
    val bucketOf = CheckpointedRunner.bucketExpr(keys, numBuckets)
    val removedBucket = 5
    val df2 = df
      .withColumn("content",
        when(xxhash64(col("repo"), col("path")) % 7 === 0, concat(col("content"), lit(" EDITED")))
          .otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
      .filter(bucketOf =!= removedBucket)
    CheckpointedRunner.stage(df2, keys, numBuckets, staging)

    val expectChanged = df2
      .filter(xxhash64(col("repo"), col("path")) % 7 === 0)
      .select(bucketOf.as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val second = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-c", keyCols = keys)
    assert(second.toSet === expectChanged, s"pending=$second expected=$expectChanged")
    assert(!second.contains(removedBucket))
    // removed bucket's stale output partition was deleted
    assert(!new java.io.File(s"$out/bucket=$removedBucket").exists())

    // the incremental final state equals a from-scratch run over snapshot 2
    val outFull = s"$root/outFull"
    CheckpointedRunner.run(spark, staging, s"$root/mFull", outFull, numBuckets,
      process, sortCols, runId = "full", keyCols = keys)
    val a = spark.read.parquet(out); val b = spark.read.parquet(outFull)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)

    // and a third incremental invocation over the same snapshot is a no-op
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-d", keyCols = keys).isEmpty)

    // manifest: fingerprints recorded for incremental rows; append-only log
    val manifest = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m)
    assert(manifest.filter(col("fingerprint").isNotNull).count() >= numBuckets)
    assert(manifest.filter(col("bucket") === removedBucket && col("rows") === 0).count() === 1)
  }

  test("re-validated bucket whose new output is EMPTY loses its stale violations") {
    // dynamic partition overwrite only replaces partitions that receive rows;
    // the runner must pre-delete pending buckets' old output partitions or a
    // bucket whose violations were all fixed keeps them forever
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val keys = Seq("repo", "path")
    val sortCols = Seq("repo", "path")
    val proc: DataFrame => DataFrame =
      in => in.filter(col("lang") === "klingon").select("repo", "path", "lang")
    val df = CodeTable.generate(spark, 2000) // id%89 rows carry lang=klingon
    CheckpointedRunner.stage(df, keys, numBuckets, staging)
    CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      proc, sortCols, runId = "e-a", keyCols = keys)
    val before = spark.read.parquet(out).count()
    assert(before > 0)
    // snapshot 2: fix EVERY violation (no klingon rows anywhere)
    val df2 = df.withColumn("lang",
      when(col("lang") === "klingon", lit("python")).otherwise(col("lang")))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging)
    val second = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      proc, sortCols, runId = "e-b", keyCols = keys)
    assert(second.nonEmpty) // the klingon buckets' content changed
    // stale violations gone: the incremental final state equals from-scratch
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val remaining =
      if (!fs.exists(p)) 0L
      else try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
    assert(remaining === 0L, s"stale violation rows remain: $remaining")
  }

  test("fingerprint sidecar: stage-time stats drive selection; identical pending set; wiped on plain re-stage") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val sortCols = Seq("repo", "path", "constraint_id")
    val keys = Seq("repo", "path")
    val df = CodeTable.generate(spark, 2000)
    val rh = Some(xxhash64(col("repo"), col("path"), col("commit"), col("content_sha256")))
    CheckpointedRunner.stage(df, keys, numBuckets, staging, rh)
    // sidecar exists: one row per occupied bucket, hidden from data reads
    val sidecar = spark.read.parquet(s"$staging/${CheckpointedRunner.FingerprintSidecar}")
    assert(sidecar.count() === sidecar.select("bucket").distinct().count())
    assert(!spark.read.parquet(staging).columns.contains("n_rows"))
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "sc-a", keyCols = keys) === (0 until numBuckets))
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "sc-b", keyCols = keys).isEmpty)
    // change one key's content; the sidecar-selected pending set matches the
    // direct fingerprint computation over the new staged data
    val df2 = df.withColumn("content",
        when(col("id") % 13 === 0, concat(col("content"), lit("!"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, rh)
    val expect = df2.filter(col("id") % 13 === 0)
      .select(CheckpointedRunner.bucketExpr(keys, numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val got = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "sc-c", keyCols = keys)
    assert(got.toSet === expect)
    // a plain (no-rowHash) re-stage wipes the sidecar — it can never go stale
    CheckpointedRunner.stage(df2, keys, numBuckets, staging)
    assert(!new java.io.File(s"$staging/${CheckpointedRunner.FingerprintSidecar}").exists())
  }

  private val keys = Seq("repo", "path")
  private val rh = Some(xxhash64(col("repo"), col("path"), col("commit"), col("content_sha256")))

  /** The staged table as an exact frame: columns by name, rows sorted. */
  private def layoutRows(staging: String): Seq[org.apache.spark.sql.Row] = {
    val d = spark.read.parquet(staging)
    val cs = d.columns.sorted.toSeq.map(col)
    d.select(cs: _*).orderBy(cs: _*).collect().toSeq
  }

  /** Data files per staged bucket: (name, length). */
  private def bucketFiles(staging: String): Map[Int, Set[(String, Long)]] =
    new java.io.File(staging).listFiles().toSeq
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName.stripPrefix("bucket=").toInt ->
        d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length()).toSet)
      .toMap

  /** The layout a plain full stage of `df` writes. */
  private def fullStage(df: DataFrame, buckets: Int = numBuckets): Seq[org.apache.spark.sql.Row] = {
    val dir = s"${tmp()}/full"
    CheckpointedRunner.stage(df, keys, buckets, dir)
    layoutRows(dir)
  }

  private def sidecarDir(staging: String) = s"$staging/${CheckpointedRunner.FingerprintSidecar}"

  test("delta restage: only changed/added buckets rewritten, removed deleted; layout equals a full restage") {
    val staging = s"${tmp()}/staging"
    val bucketOf = CheckpointedRunner.bucketExpr(keys, numBuckets)
    val all = CodeTable.generate(spark, 3000)
    def edit(df: DataFrame, b: Int, mark: String) = df
      .withColumn("content",
        when(bucketOf === b, concat(col("content"), lit(mark))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    // snapshot 0 has no bucket 5; snapshot 1 adds it, removes bucket 2 and
    // edits bucket 4; snapshot 2 edits bucket 4 again but leaves its digest
    // column stale, then snapshot 0 comes back
    val s0 = all.filter(bucketOf =!= 5)
    val s1 = edit(all.filter(bucketOf =!= 2), 4, " v1")
    val s2 = edit(all.filter(bucketOf =!= 2), 4, " v1")
      .withColumn("content", when(bucketOf === 4, concat(col("content"), lit(" v2")))
        .otherwise(col("content")))
    CheckpointedRunner.stage(s0, keys, numBuckets, staging, rh)
    val before = bucketFiles(staging)
    assert(before.keySet === (0 until numBuckets).toSet - 5)

    CheckpointedRunner.stage(s1, keys, numBuckets, staging, rh)
    val after = bucketFiles(staging)
    assert(after.keySet === (0 until numBuckets).toSet - 2)
    val untouched = (0 until numBuckets).toSet -- Set(2, 4, 5)
    untouched.foreach(b => assert(after(b) === before(b), s"bucket $b was rewritten"))
    assert((after(4).map(_._1) intersect before(4).map(_._1)).isEmpty, "bucket 4 not rewritten")
    assert(layoutRows(staging) === fullStage(s1))

    // a stale digest column must not hide a content change from the layout
    CheckpointedRunner.stage(s2, keys, numBuckets, staging, rh)
    val afterStale = bucketFiles(staging)
    (untouched + 5).foreach(b => assert(afterStale(b) === after(b), s"bucket $b was rewritten"))
    assert(layoutRows(staging) === fullStage(s2))

    CheckpointedRunner.stage(s0, keys, numBuckets, staging, rh)
    assert(layoutRows(staging) === fullStage(s0))
    // the sidecar built from the input aggregate equals a rescan of the layout
    val sidecar = spark.read.parquet(sidecarDir(staging)).select("bucket", "n_rows", "fingerprint")
    val rescan = CheckpointedRunner.bucketFingerprints(spark.read.parquet(staging), rh.get)
    assert(sidecar.orderBy("bucket").collect().toSeq === rescan.orderBy("bucket").collect().toSeq)
    // the same snapshot again rewrites nothing
    val settled = bucketFiles(staging)
    CheckpointedRunner.stage(s0, keys, numBuckets, staging, rh)
    assert(bucketFiles(staging) === settled)
  }

  test("delta restage falls back to a full rewrite: no sidecar, old sidecar, other bucket count, added or renamed column") {
    val staging = s"${tmp()}/staging"
    val df = CodeTable.generate(spark, 2000)
    def fullRewrite(next: DataFrame, buckets: Int = numBuckets)(breakSidecar: => Unit): Unit = {
      CheckpointedRunner.stage(df, keys, numBuckets, staging, rh)
      val before = bucketFiles(staging).values.flatten.map(_._1).toSet
      breakSidecar
      CheckpointedRunner.stage(next, keys, buckets, staging, rh)
      val after = bucketFiles(staging).values.flatten.map(_._1).toSet
      assert((after intersect before).isEmpty, "a data file survived the restage")
      assert(layoutRows(staging) === fullStage(next, buckets))
    }
    val sidecarPath = new org.apache.hadoop.fs.Path(sidecarDir(staging))
    def fs = sidecarPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fullRewrite(df)(fs.delete(sidecarPath, true))
    fullRewrite(df) { // the 3-column sidecar of earlier releases
      CheckpointedRunner.bucketFingerprints(spark.read.parquet(staging), rh.get)
        .coalesce(1).write.mode("overwrite").parquet(sidecarDir(staging))
    }
    fullRewrite(df, buckets = 4)(())
    fullRewrite(df.withColumn("extra", lit(1)))(())
    // a renamed column hashes like the old one: only the recorded schema
    // tells the layouts apart
    fullRewrite(df.withColumnRenamed("lang", "lang2"))(())
    // and a restage over an intact sidecar of the same layout rewrites nothing
    CheckpointedRunner.stage(df, keys, numBuckets, staging, rh)
    val settled = bucketFiles(staging)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, rh)
    assert(bucketFiles(staging) === settled)
  }

  test("kill after the sidecar delete: the next restage is full and ends in the same layout") {
    val root = tmp()
    val staging = s"$root/staging"
    val bucketOf = CheckpointedRunner.bucketExpr(keys, numBuckets)
    val s0 = CodeTable.generate(spark, 2000)
    val s1 = s0.filter(bucketOf =!= 3)
      .withColumn("content", when(bucketOf === 6, concat(col("content"), lit(" v1")))
        .otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    CheckpointedRunner.stage(s0, keys, numBuckets, staging, rh)
    CheckpointedRunner.incrementalRun(spark, staging, s"$root/m", s"$root/out", numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "k-a", keyCols = keys)
    // the delta restage of s1 killed mid-write: sidecar gone, bucket 6
    // rewritten, removed bucket 3 still on disk
    new org.apache.hadoop.fs.Path(sidecarDir(staging))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(sidecarDir(staging)), true)
    s1.withColumn("bucket", bucketOf).filter(col("bucket") === 6)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(staging)
    // incrementalRun on the half-written layout falls back to its scan
    assert(CheckpointedRunner.incrementalRun(spark, staging, s"$root/m", s"$root/out", numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "k-b", keyCols = keys,
      rowHash = rh) === Seq(6))
    CheckpointedRunner.stage(s1, keys, numBuckets, staging, rh)
    assert(layoutRows(staging) === fullStage(s1))
    assert(spark.read.parquet(sidecarDir(staging)).count() === numBuckets - 1)
  }

  test("empty snapshot on the full and the delta path: every bucket's output deleted and committed as removed") {
    val df = CodeTable.generate(spark, 1500)
    for (delta <- Seq(false, true)) {
      val root = tmp()
      val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
      // the delta path needs a sidecar from the previous stage; without one
      // the restage is full
      CheckpointedRunner.stage(df, keys, numBuckets, staging, if (delta) rh else None)
      val first = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
        process, Seq("repo", "path", "constraint_id"), runId = "z-a", keyCols = keys, rowHash = rh)
      assert(first === (0 until numBuckets))
      val written = new java.io.File(out).listFiles().map(_.getName)
        .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt).toSet
      assert(written.nonEmpty)
      CheckpointedRunner.stage(df.limit(0), keys, numBuckets, staging, rh)
      assert(bucketFiles(staging).isEmpty, s"delta=$delta")
      assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
        process, Seq("repo", "path", "constraint_id"), runId = "z-b", keyCols = keys,
        rowHash = rh).isEmpty)
      assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("bucket=")))
      val removed = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m)
        .filter(col("run_id") === "z-b")
        .select("bucket", "rows", "violations").collect().toSeq
      assert(removed.size === written.size && removed.map(_.getInt(0)).toSet === written,
        s"delta=$delta")
      assert(removed.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
    }
  }

  test("run history: one lineage+metrics row per invocation over the append-only manifest") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1500), Seq("repo", "path"), numBuckets, staging)
    CheckpointedRunner.run(spark, staging, m, out, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "h-1",
      keyCols = Seq("repo", "path"), maxBuckets = 3)
    CheckpointedRunner.run(spark, staging, m, out, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "h-2",
      keyCols = Seq("repo", "path"))
    val h = CheckpointedRunner.runHistory(spark, m)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h.keySet === Set("h-1", "h-2"))
    assert(h("h-1")._1 === 3L && h("h-2")._1 === (numBuckets - 3).toLong)
    assert(h.values.map(_._2).sum === spark.read.parquet(staging).count())
  }

  test("snapshot diff: added/removed/changed buckets; unchanged buckets emit no row") {
    val prev = CodeTable.generate(spark, 800)
    val bucketOf = CheckpointedRunner.bucketExpr(Seq("repo", "path"), numBuckets)
    val cur = prev
      .filter(bucketOf =!= 2) // bucket 2 removed
      .withColumn("content",
        when(bucketOf === 4, concat(col("content"), lit("x"))).otherwise(col("content")))
    val d = CheckpointedRunner.snapshotDiff(cur, prev, Seq("repo", "path"), numBuckets)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(d(2) === "removed")
    assert(d(4) === "changed")
    assert(d.size === 2, d.toString) // every other bucket: no row
    // a pure row-order change is NOT a change (order-independent fingerprint)
    val shuffled = prev.orderBy(rand(7))
    assert(CheckpointedRunner.snapshotDiff(shuffled, prev, Seq("repo", "path"), numBuckets)
      .collect().isEmpty)
  }

  test("staged layout partition-prunes: per-bucket read touches one directory") {
    val root = tmp()
    val staging = s"$root/staging"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1000), Seq("repo", "path"), numBuckets, staging)
    val one = spark.read.parquet(staging).filter(col("bucket") === 3)
    val plan = one.queryExecution.executedPlan.toString
    // PartitionFilters prune to bucket=3 (no full scan on resume)
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    val total = spark.read.parquet(staging).count()
    assert(one.count() < total)
  }
}
