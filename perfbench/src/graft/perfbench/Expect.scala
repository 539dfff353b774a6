package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Expected RunValidation counts, derived from the generated parquet with
  * plain Spark SQL — none of the program's compiler, checks or runner. The
  * rules restate the code table's constraints: a string value is present
  * when non-null and non-empty; a missing required value is one violation
  * and suppresses that field's other rules; a present value gets one
  * violation per failed format, length, inclusion or parity rule. */
final case class ValidationCounts(
    rows: Long, violations: Long, duplicateKeys: Long, danglingRefs: Long,
    fdGroups: Long, fdMinorityRows: Long)

/** Expected RunPipeline drop counts of one delta, derived the same way. */
final case class PipelineCounts(
    docs: Long, exactDups: Long, nearDups: Long, contaminated: Long, lowQuality: Long)

object Expect {
  val RepoFormat = "^[a-z0-9]+/[a-z0-9]+$"
  val PathFormat = "^(src|lib|test)(/[a-zA-Z0-9_.-]+)+$"
  val CommitFormat = "^[0-9a-f]{40}$"

  private def present(c: String): Column = col(c).isNotNull && col(c) =!= ""
  private def n(b: Column): Column = when(b, 1L).otherwise(0L)

  /** Violations of one row, as a count. */
  def rowViolations: Column = {
    def required(c: String) = n(!present(c))
    def failing(c: String, ok: Column) = n(present(c) && !ok)
    Seq(
      required("repo"), failing("repo", col("repo").rlike(RepoFormat)),
      required("path"), failing("path", col("path").rlike(PathFormat)),
      required("commit"), failing("commit", col("commit").rlike(CommitFormat)),
      failing("commit", length(col("commit")) === 40),
      required("lang"), failing("lang", col("lang").isin(Gen.Langs: _*)),
      required("content"),
      failing("content", sha2(col("content"), 256) === col("content_sha256"))
    ).reduce(_ + _)
  }

  def validation(table: DataFrame, dim: DataFrame): ValidationCounts = {
    val totals = table.agg(count(lit(1)), coalesce(sum(rowViolations), lit(0L))).head()
    val (rows, violations) = (totals.getLong(0), totals.getLong(1))
    val duplicateKeys = table.groupBy("repo", "path", "commit").count()
      .filter(col("count") > 1).count()
    val danglingRefs = table.join(dim.select("commit").distinct(), Seq("commit"), "left_anti").count()
    val perRepo = table.groupBy("repo", "lang").count()
      .groupBy("repo").agg(count(lit(1)).as("langs"), sum("count").as("rows"), max("count").as("top"))
      .filter(col("langs") > 1)
      .agg(count(lit(1)), coalesce(sum(col("rows") - col("top")), lit(0L)))
      .head()
    ValidationCounts(rows, violations, duplicateKeys, danglingRefs, perRepo.getLong(0), perRepo.getLong(1))
  }

  /** Integer field of a one-line JSON summary. */
  def field(json: String, name: String): Option[Long] =
    s""""$name":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  /** Mismatches between a RunValidation summary and the expected counts. */
  def checkValidation(json: String, want: ValidationCounts, processedBuckets: Long,
      buckets: Int): Seq[String] = {
    val expected = Seq(
      "violations" -> want.violations,
      "duplicate_keys" -> want.duplicateKeys,
      "dangling_refs" -> want.danglingRefs,
      "fd_violating_groups" -> want.fdGroups,
      "fd_minority_rows" -> want.fdMinorityRows,
      "processed_buckets" -> processedBuckets,
      "done_buckets" -> buckets.toLong)
    val profiled = """"rows":(\d+),"nulls":(\d+)""".r.findAllMatchIn(json)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq
    expected.flatMap { case (k, v) =>
      val got = field(json, k)
      if (got.contains(v)) None else Some(s"$k: expected $v, got ${got.getOrElse("none")}")
    } ++ (if (profiled.nonEmpty && profiled.forall(_ == (want.rows, 0L))) None
          else Some(s"profile rows/nulls: expected ${want.rows}/0, got $profiled"))
  }

  /** Words a near-duplicate shares with its original before any edit (the
    * generator edits word 50 of 100). */
  val NearPrefixWords = 40

  /** Expected drops of `delta`, following the pipeline's funnel with plain
    * Spark SQL and Scala on space-separated words:
    *  - exact: one doc per distinct text survives (the lowest id);
    *  - near: a survivor whose first [[NearPrefixWords]] words equal those of
    *    a doc in `earlier` (the docs already indexed) is dropped, as is every
    *    survivor but the lowest id among those sharing a prefix;
    *  - contaminated: a near survivor sharing an `n`-word window with a probe
    *    text;
    *  - low quality: a clean survivor whose most frequent word exceeds
    *    `maxTopWordPct`% of its words. */
  def pipeline(delta: DataFrame, earlier: Option[DataFrame], probe: DataFrame, n: Int,
      maxTopWordPct: Int): PipelineCounts = {
    def words(text: String) = split(col(text), " ")
    def prefix(text: String) = concat_ws(" ", slice(words(text), 1, NearPrefixWords))
    val probeWindows: Set[String] = probe.select("ptext").collect().iterator
      .map(_.getString(0).split(" ").toSeq).filter(_.size >= n)
      .flatMap(_.sliding(n).map(_.mkString(" "))).toSet
    val contaminated = udf((ws: Seq[String]) =>
      ws.size >= n && ws.sliding(n).exists(w => probeWindows(w.mkString(" "))))
    val lowQuality = udf((ws: Seq[String]) =>
      ws.groupBy(identity).values.map(_.size).max * 100L > ws.size.toLong * maxTopWordPct)
    val docs = delta.count()
    val keyed = delta.groupBy("text").agg(min("doc_id").as("doc_id"))
      .withColumn("prefix", prefix("text"))
      .withColumn("first", min("doc_id").over(Window.partitionBy("prefix")))
    val near = earlier match {
      case Some(e) => keyed.join(
        e.select(prefix("text").as("prefix")).distinct().withColumn("indexed", lit(true)), Seq("prefix"), "left")
      case None => keyed.withColumn("indexed", lit(null).cast("boolean"))
    }
    val survivor = col("indexed").isNull && col("doc_id") === col("first")
    val c = contaminated(words("text"))
    def flag(b: Column) = sum(when(b, 1L).otherwise(0L))
    val r = near.agg(count(lit(1)), flag(survivor), flag(survivor && c),
      flag(survivor && !c && lowQuality(words("text")))).head()
    val (distinct, survivors) = (r.getLong(0), r.getLong(1))
    PipelineCounts(docs, docs - distinct, distinct - survivors, r.getLong(2), r.getLong(3))
  }

  /** Mismatches in a RunPipeline summary: the whole delta came in, every
    * drop count equals the derived one, nothing was invalid or semantically
    * dropped (no schema, no embedding), and every doc not dropped is output.
    * With `nearAtMost`, `near_dups` may fall short of the derived count (it
    * must still not exceed it). */
  def checkPipeline(json: String, want: PipelineCounts, nearAtMost: Boolean = false): Seq[String] = {
    def f(k: String) = field(json, k).getOrElse(Long.MinValue)
    def eq(k: String, v: Long) = if (f(k) == v) None else Some(s"$k: expected $v, got ${f(k)}")
    val drops = Seq("invalid", "exact_dups", "near_dups", "contaminated", "low_quality",
      "semantic_dups").map(f)
    Seq(
      eq("input", want.docs), eq("invalid", 0L), eq("exact_dups", want.exactDups),
      if (nearAtMost) { if (f("near_dups") >= 0 && f("near_dups") <= want.nearDups) None
                        else Some(s"near_dups: expected at most ${want.nearDups}, got ${f("near_dups")}") }
      else eq("near_dups", want.nearDups),
      eq("contaminated", want.contaminated), eq("low_quality", want.lowQuality),
      eq("semantic_dups", 0L),
      if (f("output") >= 0 && f("input") == f("output") + drops.sum) None
      else Some(s"input != output + drops in $json")).flatten
  }

  /** The report fields a redelivery must reproduce. */
  val ReportFields: Seq[String] = Seq("input", "invalid", "exact_dups", "near_dups",
    "contaminated", "low_quality", "semantic_dups", "output", "dropped_buckets", "dropped_ids")
}
