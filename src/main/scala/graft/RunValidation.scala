package graft

import graft.checkpoint.CheckpointedRunner
import graft.run.Validator
import graft.suite.{Checks, CodeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit entry point the north_rule describes: stage a source-code
  * table once, validate it through the checkpointed (resumable) runner, run
  * the table-scope suite, and print one JSON summary line. Re-invoking after
  * a kill resumes from the manifest; re-invoking after a new snapshot was
  * staged (with `--incremental`) revalidates only changed buckets.
  *
  * {{{
  * spark-submit --class graft.RunValidation graft.jar \
  *   --input  /data/code_table      \   // parquet with (repo,path,commit,lang,content[,content_sha256])
  *   --work   /data/graft_work      \   // staging + manifest + violations live here
  *   [--buckets 1024]               \   // staged bucket count (default 256)
  *   [--incremental]                \   // content-addressed selection (snapshot-evolving inputs)
  *   [--restage]                    \   // (re-)stage the input before validating
  *   [--dim /data/repo_commits]     \   // optional referential dim (repo, commit)
  *   [--profile repo,lang,content]  \   // optional profiling columns
  *   [--unique repo,path,commit]    \   // optional uniqueness key
  *   [--fd repo:lang]               \   // optional functional-dependency check (det[,det]:dep)
  *   [--bucketed-table graft_code]  \   // bucketed suite staging -> exchange-free keyed checks
  *   [--bucket-keys commit]             // its bucket key(s); default commit
  * }}}
  *
  * Scale shape: a first staging is one partitioned write. With
  * --incremental, one aggregate over the input also yields per-bucket row
  * counts, validation fingerprints and layout fingerprints (over every
  * column), which become the fingerprint sidecar; a --restage then rewrites
  * only the staged buckets whose layout fingerprint changed and deletes
  * the ones left empty, so a new snapshot costs two reads of the input and
  * a write of what changed (a changed bucket count or input schema
  * restages in full). Validation selects changed buckets from the sidecar,
  * never a table scan, and is the one-write-job bucket runner. Suite checks
  * are single-pass aggregates / anti-joins over the whole staged table, and
  * --bucketed-table rebuilds its copy in full on every --restage.
  */
object RunValidation {

  final case class Args(
      input: String = "", work: String = "", buckets: Int = 256,
      incremental: Boolean = false, restage: Boolean = false,
      dim: Option[String] = None,
      profileCols: Seq[String] = Nil, uniqueKeys: Seq[String] = Nil,
      fd: Option[(Seq[String], String)] = None,
      bucketedTable: Option[String] = None,
      bucketKeys: Seq[String] = Seq("commit"))

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case "--input" :: v :: t => loop(a.copy(input = v), t)
      case "--work" :: v :: t => loop(a.copy(work = v), t)
      case "--buckets" :: v :: t => loop(a.copy(buckets = v.toInt), t)
      case "--incremental" :: t => loop(a.copy(incremental = true), t)
      case "--restage" :: t => loop(a.copy(restage = true), t)
      case "--dim" :: v :: t => loop(a.copy(dim = Some(v)), t)
      case "--profile" :: v :: t => loop(a.copy(profileCols = v.split(",").toSeq), t)
      case "--unique" :: v :: t => loop(a.copy(uniqueKeys = v.split(",").toSeq), t)
      case "--bucketed-table" :: v :: t => loop(a.copy(bucketedTable = Some(v)), t)
      case "--bucket-keys" :: v :: t => loop(a.copy(bucketKeys = v.split(",").toSeq), t)
      case "--fd" :: v :: t =>
        v.split(":") match {
          case Array(dets, dep) if dets.nonEmpty && dep.nonEmpty =>
            loop(a.copy(fd = Some((dets.split(",").toSeq, dep))), t)
          case _ => throw new IllegalArgumentException(
            s"--fd expects det[,det]:dep (e.g. repo:lang), got: $v")
        }
      case Nil => a
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val a = loop(Args(), argv.toList)
    require(a.input.nonEmpty, "--input is required")
    require(a.work.nonEmpty, "--work is required")
    a
  }

  private val keys = Seq("repo", "path")
  private val sortCols = Seq("repo", "path", "constraint_id")

  /** Underscore-prefixed (invisible to data reads) bucket-count sidecar the
    * stage step writes and every later run checks against `--buckets`. */
  val BucketCountFile = "_graft_buckets"

  /** Bucketed-staging spec sidecar: "key1,key2|buckets". */
  val BucketSpecFile = "_graft_bucket_spec"

  /** Library-callable core (main() wraps it with a session). Returns the
    * summary JSON it also prints. */
  def run(spark: SparkSession, a: Args): String = {
    val staging = s"${a.work}/staging"
    val manifest = s"${a.work}/manifest"
    val outDir = s"${a.work}/violations"

    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketMeta = new org.apache.hadoop.fs.Path(stagingPath, BucketCountFile)

    // completion-model guard: run() treats ANY done manifest row as complete
    // forever, so a bucket committed by an earlier --incremental run (its
    // rows carry fingerprints) could be content-changed yet silently skipped
    // by a later non-incremental invocation. Refuse the mix outright.
    if (!a.incremental) {
      val mPath = new org.apache.hadoop.fs.Path(manifest)
      if (fs.exists(mPath)) {
        val fingerprinted = spark.read.schema(CheckpointedRunner.manifestSchema)
          .parquet(manifest)
          .filter(col("status") === "done" && col("fingerprint").isNotNull)
          .limit(1).count()
        require(fingerprinted == 0L,
          s"manifest at $manifest has content-addressed (fingerprinted) completion rows " +
            "from --incremental runs; re-invoke with --incremental (a plain run would " +
            "treat content-changed buckets as done forever)")
      }
    }

    // restage guards — checked BEFORE staging overwrites the sidecar. run()'s
    // completion model is positional (a done manifest row marks its bucket
    // number complete), so restaging under an existing manifest is only safe
    // when the bucket numbering is unchanged AND selection is content-
    // addressed: a changed --buckets would redistribute rows while old done
    // rows still mask their numbers, and a non-incremental run would treat
    // every done row as final and skip the re-staged content entirely.
    def readStagedBuckets(): Option[Int] =
      if (!fs.exists(bucketMeta)) None
      else {
        val in = fs.open(bucketMeta)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
        finally in.close()
      }
    if (a.restage && fs.exists(new org.apache.hadoop.fs.Path(manifest))) {
      readStagedBuckets().foreach(old => require(old == a.buckets,
        s"--restage with --buckets ${a.buckets} over a manifest built for $old buckets " +
          "would leave done rows masking re-numbered buckets; use a fresh --work"))
      require(a.incremental,
        "--restage over an existing manifest requires --incremental — a plain run " +
          "treats done rows as final and would skip the re-staged content")
    }

    if (a.restage || !fs.exists(stagingPath)) {
      val in = spark.read.parquet(a.input)
      val withSha =
        if (in.columns.contains("content_sha256")) in
        else in.withColumn("content_sha256", sha2(col("content"), 256))
      // the validation fingerprint rides the digest column, not raw
      // content. Contract: a SUPPLIED content_sha256 must track content (it
      // is both the parity fixture and the change signal); a stale digest
      // hides the change from incremental selection exactly as it would from
      // the parity check. The staged layout itself never trusts it: stage()
      // fingerprints every column to decide which buckets to rewrite
      val rowHash =
        if (a.incremental)
          Some(xxhash64((keys ++ Seq("commit", "lang", "content_sha256")).map(col): _*))
        else None
      CheckpointedRunner.stage(withSha, keys, a.buckets, staging, rowHash)
      // record the layout's bucket count: a later run with a different
      // --buckets would filter staged partitions under the old numbering
      // while committing manifest rows under the new one
      val out = fs.create(bucketMeta, true)
      try out.write(s"${a.buckets}\n".getBytes("UTF-8")) finally out.close()
    }

    // bucket-count guard: the staged layout owns the number; --buckets must agree
    readStagedBuckets() match {
      case Some(stagedBuckets) => require(stagedBuckets == a.buckets,
        s"staged layout at $staging was built with --buckets $stagedBuckets " +
          s"but this run passed --buckets ${a.buckets}; pass the original value " +
          "or --restage to rebuild the layout")
      case None => System.err.println(
        s"[graft] $staging predates bucket-count metadata ($BucketCountFile missing) — " +
          s"cannot verify --buckets ${a.buckets} matches the staged layout; --restage to record it")
    }

    // optional bucketed suite staging: one extra bucketed+sorted copy of the
    // snapshot (and the distinct dim keys), so every keyed suite check below
    // satisfies its distribution straight off the scan — at 10^12 rows the
    // one-time write replaces a full shuffle in EVERY subsequent keyed pass.
    // The catalog entry does not outlive the session; later invocations
    // re-attach the existing files via CREATE TABLE ... LOCATION.
    // spec sidecar per bucketed dir: re-attaching declares CLUSTERED BY to a
    // fresh session's catalog with NO data movement, so the declared keys and
    // count MUST be the ones the files were hashed with — a mismatch would
    // make every exchange-free check aggregate partial per-file groups as if
    // complete, silently (the staging dir's bucket-count guard, extended to
    // the key set)
    def writeBucketSpec(dir: String, keys: Seq[String], buckets: Int): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, BucketSpecFile), true)
      try out.write(s"${keys.mkString(",")}|$buckets\n".getBytes("UTF-8"))
      finally out.close()
    }
    def requireBucketSpec(dir: String, keys: Seq[String], buckets: Int): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, BucketSpecFile)
      require(fs.exists(p),
        s"$dir predates bucket-spec metadata ($BucketSpecFile missing) — " +
          "cannot verify the layout matches --bucket-keys/--buckets; --restage to rebuild")
      val in = fs.open(p)
      val spec = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val expect = s"${keys.mkString(",")}|$buckets"
      require(spec == expect,
        s"bucketed layout at $dir was staged as '$spec' but this run declares " +
          s"'$expect' (--bucket-keys/--buckets); pass the original values or --restage")
    }
    // the SPEC FILE is the staging commit gate, not dir existence: a crash
    // between the bucketed write and the spec write self-heals by re-staging
    // (the write is an overwrite) instead of dead-ending every later attach
    def specCommitted(dir: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dir, BucketSpecFile))
    a.bucketedTable.foreach { tbl =>
      val bdir = s"${a.work}/bucketed"
      if (a.restage || !specCommitted(bdir)) {
        graft.io.BucketedStage.stage(
          spark.read.parquet(staging), a.bucketKeys, a.buckets, tbl, Some(bdir))
        writeBucketSpec(bdir, a.bucketKeys, a.buckets)
      } else if (!spark.catalog.tableExists(tbl)) {
        requireBucketSpec(bdir, a.bucketKeys, a.buckets)
        attachBucketed(spark, tbl, bdir, a.bucketKeys, a.buckets)
      }
      a.dim.foreach { d =>
        val ddir = s"${a.work}/bucketed_dim"
        if (a.restage || !specCommitted(ddir)) {
          graft.io.BucketedStage.stage(
            spark.read.parquet(d).select("commit").distinct(), Seq("commit"),
            a.buckets, bucketedDimTable(tbl), Some(ddir))
          writeBucketSpec(ddir, Seq("commit"), a.buckets)
        } else if (!spark.catalog.tableExists(bucketedDimTable(tbl))) {
          requireBucketSpec(ddir, Seq("commit"), a.buckets)
          attachBucketed(spark, bucketedDimTable(tbl), ddir, Seq("commit"), a.buckets)
        }
      }
    }

    def process(in: DataFrame): DataFrame =
      Validator.validate(CodeTable.codeSchema,
        in.withColumn("sha_fixture", col("content_sha256"))).violations

    val runId = s"run-${java.util.UUID.randomUUID().toString.take(8)}"
    val processed =
      if (a.incremental)
        CheckpointedRunner.incrementalRun(spark, staging, manifest, outDir,
          a.buckets, process, sortCols, runId, keys)
      else
        CheckpointedRunner.run(spark, staging, manifest, outDir,
          a.buckets, process, sortCols, runId, keys)

    val staged = a.bucketedTable.fold(spark.read.parquet(staging))(spark.table)
    val extras = scala.collection.mutable.ListBuffer.empty[String]
    if (a.profileCols.nonEmpty) {
      val prof = Checks.profile(staged, a.profileCols).collect()
        .map(r => s""""${r.getString(0)}":{"rows":${r.getLong(1)},"nulls":${r.getLong(2)},"distinct":${r.getLong(3)}}""")
      extras += s""""profile":{${prof.mkString(",")}}"""
    }
    if (a.uniqueKeys.nonEmpty)
      extras += s""""duplicate_keys":${suiteUniqueness(staged, a).count()}"""
    a.fd.foreach { case (dets, dep) =>
      // violating-group count + total minority rows (the repair cost) — the
      // full group list stays distributed; the summary line carries totals
      val fdAgg = Checks.functionalDependencyViolations(staged, dets, dep)
        .agg(count(lit(1)).as("groups"),
          coalesce(sum(col("minority_rows")), lit(0L)).as("minority"))
        .collect().head
      extras += s""""fd_violating_groups":${fdAgg.getLong(0)},"fd_minority_rows":${fdAgg.getLong(1)}"""
    }
    a.dim.foreach { d =>
      extras += s""""dangling_refs":${suiteReferential(spark, staged, a, d).count()}"""
    }

    val manifestDf = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(manifest)
    val done = manifestDf.filter(col("status") === "done")
      .select("bucket").distinct().count()
    val viols = try spark.read.parquet(outDir).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    val json =
      s"""{"run_id":"$runId","processed_buckets":${processed.size},""" +
        s""""done_buckets":$done,"total_buckets":${a.buckets},""" +
        s""""violations":$viols,"incremental":${a.incremental}""" +
        (if (extras.nonEmpty) extras.mkString(",", ",", "") else "") + "}"
    println(json)
    json
  }

  private[graft] def bucketedDimTable(tbl: String): String = s"${tbl}_dim"

  /** Re-register an existing bucketed layout in a fresh session's catalog
    * (saveAsTable metadata does not outlive the session) — DDL over the
    * files, no data movement. */
  private def attachBucketed(spark: SparkSession, tbl: String, dir: String,
      keys: Seq[String], buckets: Int): Unit = {
    val ddl = spark.read.parquet(dir).schema.toDDL
    val ks = keys.mkString(", ")
    spark.sql(s"CREATE TABLE $tbl ($ddl) USING parquet CLUSTERED BY ($ks) " +
      s"SORTED BY ($ks) INTO $buckets BUCKETS LOCATION '$dir'")
  }

  /** Uniqueness extra: over a bucketed staging whose bucket keys are a subset
    * of the unique keys, the direct groupBy satisfies its distribution off
    * the scan (NO shuffle); otherwise the 8-byte-hash pre-screen path. */
  private[graft] def suiteUniqueness(staged: DataFrame, a: Args): DataFrame =
    if (a.bucketedTable.isDefined && a.bucketKeys.forall(a.uniqueKeys.contains))
      Checks.uniquenessPrePartitioned(staged, a.uniqueKeys)
    else Checks.uniqueness(staged, a.uniqueKeys)

  /** Referential extra: when the staging is bucketed ON the fk, the dim keys
    * were staged co-bucketed and the anti-join consumes both scans' bucketing
    * (no exchange; plain `===` keys — `commit` is NOT NULL in this table, and
    * a null fk would be correctly reported dangling). Otherwise the
    * broadcast-dim path. */
  private[graft] def suiteReferential(
      spark: SparkSession, staged: DataFrame, a: Args, dimPath: String): DataFrame =
    a.bucketedTable match {
      case Some(tbl) if a.bucketKeys == Seq("commit") =>
        Checks.referentialViolations(
          staged, Seq("commit"), spark.table(bucketedDimTable(tbl)), Seq("commit"),
          broadcastDim = false, keyCols = keys,
          dimIsDistinct = true, nullSafeKeys = false)
      case _ =>
        Checks.referentialViolations(
          staged, Seq("commit"), spark.read.parquet(dimPath), Seq("commit"),
          broadcastDim = true, keyCols = keys)
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .appName("graft-validation")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .getOrCreate()
    try run(spark, a) finally spark.stop()
  }
}
