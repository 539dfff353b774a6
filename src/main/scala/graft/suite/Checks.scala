package graft.suite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-scope checks mandated by the north_rule — these have no counterpart in
  * the per-record reference (SURVEY §2.7); they lift the same constraint model
  * to dataset scope. All are single-job Spark aggregates/joins designed for
  * 10^12-row inputs: partial+final hash aggregation, broadcast or salted joins,
  * and only driver-side work on already-tiny results.
  */
object Checks {

  /** Histogram key for null category values, shared by batch [[driftCheck]]
    * and [[graft.streaming.StreamingDrift]] so a baseline built by one scores
    * correctly in the other. The NUL (U+0000) prefix cannot collide with any real
    * string value Spark surfaces (NUL never survives a cast-to-string of a
    * non-string, and a genuine NUL-prefixed string would hash to itself).
    */
  val NullCategoryKey: String = "\u0000null"

  /** Deterministic composite-key string over possibly-null columns. Each
    * segment is coalesced to [[NullCategoryKey]] BEFORE concat_ws — concat_ws
    * silently SKIPS null arguments (no separator emitted), which would merge
    * distinct tuples such as ('a', null) and (null, 'a') into the same key. */
  private[graft] def compositeKey(cols: Seq[String]): Column =
    concat_ws("|", cols.map(c => coalesce(col(c).cast(StringType), lit(NullCategoryKey))): _*)

  // --------------------------------------------------------------------------
  // N4: column-stats profiling — ONE aggregation pass over the table computes
  // count / null-rate / approx-distinct (HyperLogLog++) / min / max for every
  // requested column, then unpivots the single result row. At 100 TB this is
  // a map-side-partial hash aggregate per column set — no shuffle of data rows,
  // only of tiny partial sketches.
  // --------------------------------------------------------------------------
  def profile(df: DataFrame, cols: Seq[String], exactDistinct: Boolean = false): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__rows"),
        count(col(c)).as(s"${c}__nonnull"),
        (if (exactDistinct) count_distinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"${c}__distinct"),
        min(col(c)).cast(StringType).as(s"${c}__min"),
        max(col(c)).cast(StringType).as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(
        lit(c).as("column"),
        col(s"${c}__rows").cast(LongType).as("rows"),
        (col(s"${c}__rows") - col(s"${c}__nonnull")).cast(LongType).as("null_count"),
        col(s"${c}__distinct").cast(LongType).as("distinct_count"),
        col(s"${c}__min").as("min_value"),
        col(s"${c}__max").as("max_value"))
    }
    one.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  // --------------------------------------------------------------------------
  // N5: uniqueness on a key tuple — hash-aggregate groupBy(keys).count > 1.
  // Map-side partial counting makes this one shuffle of (key, partial-count),
  // not of full rows; AQE coalesces post-shuffle partitions.
  // --------------------------------------------------------------------------
  /** Key tuples that occur more than once, with their `dup_count`.
    *
    * Nullable keys: a null matches only a null in the same key position, as
    * in SQL `GROUP BY` (`UNIQUE NULLS NOT DISTINCT`). In the terms of Wei,
    * Leck and Link, "Entity Integrity, Referential Integrity, and Query
    * Optimization with Embedded Uniqueness Constraints" (ICDE 2019): every
    * pair that violates the possible key p⟨K⟩ (equal and non-null on all of
    * K) is reported; a pair that violates only the certain key c⟨K⟩ (equal
    * where both are non-null, a null against a value elsewhere) is not; and
    * a pair with nulls in the same positions is reported, although p⟨K⟩
    * allows it. On rows with no null in K this is exactly the uniqueness
    * constraint on K. [[uniquenessPrePartitioned]] reads nulls the same way. */
  def uniqueness(df: DataFrame, keys: Seq[String]): DataFrame = {
    // Two-level exact check. A direct groupBy(keys) shuffles every wide key
    // tuple (~100+ bytes of strings per row); instead shuffle ONE 8-byte
    // xxhash64 per row to find candidate hashes, then confirm on the (tiny)
    // candidate subset with an exact group — hash collisions can only ADD
    // candidates, never hide a duplicate, so the result is exact. AQE turns
    // the candidate join into a broadcast when the dup set is small.
    val h = xxhash64(keys.map(col): _*)
    val dupHashes = df.select(h.as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("__h")
    df.withColumn("__h", h)
      .join(dupHashes, "__h", "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Uniqueness over an input ALREADY distributed by `keys` — a table staged
    * with [[graft.io.BucketedStage]] (or any frame whose partitioning
    * Catalyst knows clusters on the keys): one direct groupBy that satisfies
    * its distribution off the scan, so the whole check runs with NO shuffle
    * (PlanSpec pins the exchange-free plan). Same output shape and values as
    * [[uniqueness]]; on a NON-bucketed input it still returns the right
    * answer but shuffles the full wide key tuples — prefer [[uniqueness]]'s
    * 8-byte-hash pre-screen there. Null keys read as in [[uniqueness]]. */
  def uniquenessPrePartitioned(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Violation-row flavor: every row whose key tuple is duplicated, joined back
    * so the output carries the north_star (keys, constraint_id, reason) shape. */
  def uniquenessViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    uniqueness(df, keys)
      .select(keys.map(col) :+
        lit("uniqueness." + keys.mkString("_")).as("constraint_id") :+
        concat(lit("duplicate key ("), concat_ws(",", keys.map(c => col(c).cast(StringType)): _*),
          lit(")")).as("reason"): _*)

  // --------------------------------------------------------------------------
  // N6: referential check child(fkCols) -> dim(pkCols) as a LEFT ANTI join.
  // `broadcastDim` for small dims (no shuffle at all); for large dims the
  // sort-merge path applies optional salting so one mega-key can't pin a task:
  // child rows get a deterministic salt in [0,S), the dim is exploded xS, and
  // the join key becomes (fk..., salt) — splitting each hot key S ways.
  // --------------------------------------------------------------------------
  def referentialViolations(
      child: DataFrame,
      fkCols: Seq[String],
      dim: DataFrame,
      pkCols: Seq[String],
      broadcastDim: Boolean = true,
      saltBuckets: Int = 0,
      keyCols: Seq[String] = Nil,
      /** Set when `dim` is ALREADY distinct on pkCols (a curated key table,
        * a persisted `.distinct()`): skips the redundant dedup shuffle that
        * would otherwise run on every check invocation. */
      dimIsDistinct: Boolean = false,
      /** Default true: null-safe key equality (`<=>` — a null fk matches a
        * null pk). Set FALSE for NOT-NULL key columns over co-bucketed
        * [[graft.io.BucketedStage]] tables: `<=>` rewrites the join keys to
        * coalesce/isnull expressions, which defeats the bucketing and
        * reintroduces both exchanges; with plain `===` the anti-join consumes
        * the scans' bucketing and the check runs shuffle-free (identical
        * semantics when the keys are non-null — a null fk is then always
        * reported dangling). */
      nullSafeKeys: Boolean = true): DataFrame = {
    require(fkCols.size == pkCols.size)
    def eq(l: Column, r: Column): Column = if (nullSafeKeys) l <=> r else l === r
    val dimKeys =
      if (dimIsDistinct) dim.select(pkCols.map(col): _*)
      else dim.select(pkCols.map(col): _*).distinct()
    val outKeys = if (keyCols.nonEmpty) keyCols else fkCols
    val dangling =
      if (broadcastDim) {
        val cond = fkCols.zip(pkCols).map { case (f, p) => eq(child(f), dimKeys(p)) }.reduce(_ && _)
        child.join(broadcast(dimKeys), cond, "left_anti")
      } else if (saltBuckets > 1) {
        // deterministic per-row salt; dim replicated saltBuckets times. The
        // merge hint pins the SORT-MERGE path (the 10^12-row shape this branch
        // exists for) — without it AQE demotes a small-at-test-scale dim back
        // to broadcast and the salting never gets exercised.
        val saltedChild = child.withColumn("__salt",
          pmod(xxhash64(outKeys.map(col): _*), lit(saltBuckets)).cast(IntegerType))
        val saltedDim = dimKeys.withColumn("__salt",
          explode(sequence(lit(0), lit(saltBuckets - 1)))).hint("shuffle_merge")
        val cond = (fkCols.zip(pkCols).map { case (f, p) => eq(saltedChild(f), saltedDim(p)) } :+
          (saltedChild("__salt") === saltedDim("__salt"))).reduce(_ && _)
        saltedChild.join(saltedDim, cond, "left_anti").drop("__salt")
      } else {
        val cond = fkCols.zip(pkCols).map { case (f, p) => eq(child(f), dimKeys(p)) }.reduce(_ && _)
        child.join(dimKeys, cond, "left_anti")
      }
    dangling.select(outKeys.map(col) :+
      lit("referential." + fkCols.mkString("_")).as("constraint_id") :+
      concat(lit("dangling reference ("),
        concat_ws(",", fkCols.map(c => col(c).cast(StringType)): _*), lit(")")).as("reason"): _*)
  }

  // --------------------------------------------------------------------------
  // N7: distribution drift.
  //  - categorical (e.g. lang): groupBy(col).count histograms, PSI on driver.
  //  - continuous (e.g. length(content)): width_bucket histogram, KS on driver.
  // Histograms are tiny (bounded by bucket count), so collect() is safe at any
  // input scale; the heavy lifting stays a distributed hash aggregate.
  // --------------------------------------------------------------------------
  def categoricalHistogram(df: DataFrame, c: Column, as: String = "key"): DataFrame =
    df.groupBy(c.as(as)).agg(count(lit(1)).as("cnt"))

  def bucketHistogram(df: DataFrame, c: Column, minV: Double, maxV: Double, buckets: Int): DataFrame =
    df.groupBy(width_bucket(c.cast(DoubleType), lit(minV), lit(maxV), lit(buckets)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Population Stability Index between two categorical histograms
    * (key -> count). Laplace-smoothed so unseen categories don't divide by 0. */
  def psi(baseline: Map[String, Long], current: Map[String, Long], eps: Double = 1e-6): Double = {
    val keys = (baseline.keySet ++ current.keySet).toSeq
    val bTot = baseline.values.sum.toDouble.max(1)
    val cTot = current.values.sum.toDouble.max(1)
    keys.map { k =>
      val p = baseline.getOrElse(k, 0L) / bTot + eps
      val q = current.getOrElse(k, 0L) / cTot + eps
      (q - p) * math.log(q / p)
    }.sum
  }

  /** Two-sample KS statistic from binned histograms (bucket -> count), i.e.
    * max |CDF_a - CDF_b| over bucket boundaries. Binned per north_star
    * ("histograms"); exactness bounded by bucket width. */
  def ksFromHistograms(a: Map[Long, Long], b: Map[Long, Long]): Double = {
    val buckets = (a.keySet ++ b.keySet).toSeq.sorted
    val aTot = a.values.sum.toDouble.max(1)
    val bTot = b.values.sum.toDouble.max(1)
    var ca = 0.0; var cb = 0.0; var ks = 0.0
    for (k <- buckets) {
      ca += a.getOrElse(k, 0L) / aTot
      cb += b.getOrElse(k, 0L) / bTot
      ks = math.max(ks, math.abs(ca - cb))
    }
    ks
  }

  /** Full drift check: categorical PSI + continuous KS against a baseline
    * snapshot; emits suite-level violation descriptors when thresholds trip. */
  case class DriftReport(psiValue: Double, ksValue: Double, psiThreshold: Double, ksThreshold: Double) {
    def violations: Seq[(String, String)] = {
      val v = Seq.newBuilder[(String, String)]
      if (psiValue > psiThreshold)
        v += (("drift.psi", f"PSI $psiValue%.4f exceeds threshold $psiThreshold%.4f"))
      if (ksValue > ksThreshold)
        v += (("drift.ks", f"KS $ksValue%.4f exceeds threshold $ksThreshold%.4f"))
      v.result()
    }
  }

  def driftCheck(
      current: DataFrame, baseline: DataFrame,
      categoricalCol: String, continuousCol: Column,
      minV: Double, maxV: Double, buckets: Int = 64,
      psiThreshold: Double = 0.2, ksThreshold: Double = 0.1): DriftReport = {
    def cat(df: DataFrame): Map[String, Long] =
      categoricalHistogram(df, col(categoricalCol)).collect()
        .map(r => Option(r.get(0)).map(_.toString).getOrElse(NullCategoryKey) -> r.getLong(1)).toMap
    def cont(df: DataFrame): Map[Long, Long] =
      bucketHistogram(df, continuousCol, minV, maxV, buckets).collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    DriftReport(
      psi(cat(baseline), cat(current)),
      ksFromHistograms(cont(baseline), cont(current)),
      psiThreshold, ksThreshold)
  }

  // --------------------------------------------------------------------------
  // N4b: quartile profiling — min/max (already in profile) say nothing about
  // the body of a distribution; quartiles feed drift baselines and length-
  // budget decisions. One aggregation pass, unpivoted like profile().
  //
  // `exact = false` (the 10^12-row default) uses approx_percentile — a
  // mergeable sketch, partial-aggregated map-side like any hash aggregate.
  // `exact = true` uses percentile(), whose state is a value->count map: fine
  // for bounded-cardinality columns (lengths, enums, dates), memory-heavy for
  // unbounded ones — it exists so small-scale runs are oracle-reproducible.
  //
  // Values are reported x4 as BIGINT: quartile positions are q*(n-1) with
  // q in quarters, so the interpolated value of an integral column is always
  // a multiple of 1/4 — x4 makes it an exact integer, immune to float
  // formatting/rounding differences between engines.
  // --------------------------------------------------------------------------
  def profileQuartiles(
      df: DataFrame, cols: Seq[String], exact: Boolean = false): DataFrame = {
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    val aggs: Seq[Column] = cols.map { c =>
      (if (exact) percentile(col(c), qs)
       else approx_percentile(col(c), qs, lit(10000))).as(s"${c}__q")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        (element_at(col(s"${c}__q"), 1) * 4).cast(LongType).as("p25_x4"),
        (element_at(col(s"${c}__q"), 2) * 4).cast(LongType).as("p50_x4"),
        (element_at(col(s"${c}__q"), 3) * 4).cast(LongType).as("p75_x4"))
    }
    one.select(explode(array(stacked: _*)).as("r")).select(col("r.*"))
  }

  // --------------------------------------------------------------------------
  // N12: key-skew profile — the measurement that DRIVES the salting decision
  // the referential check takes as a parameter. Heavy hitters of a join/agg
  // key, each with its share of the table and the salt factor that would
  // spread it evenly over `parallelism` shuffle partitions. All integer
  // arithmetic (floor division), so the report is bit-stable across engines.
  //
  // Scale model: ONE partial+final hash aggregate over the table produces the
  // per-key counts (shuffle carries (key, long) partials, never rows); totals
  // are an aggregate OVER that small counts frame and the top-K is a
  // TakeOrdered on it. The counts frame is read by both branches — at
  // 10^12 rows with ~10^8 distinct keys this re-runs the count aggregate
  // once, which is the price of keeping the distinct-key set out of a single
  // window partition (the alternative global-window shape funnels every
  // distinct key through one task).
  // --------------------------------------------------------------------------

  /** Top-`topK` heaviest keys: (rank, key, cnt, pct_x10000, salt_factor,
    * total_rows, distinct_keys). `salt_factor` = ceil(cnt * parallelism /
    * total_rows), floored at 1 — the number of salt buckets that splits this
    * key to ~one shuffle partition's fair share; keys with salt_factor 1 need
    * no salting. Rank breaks count ties by key string ascending, so the
    * report is deterministic. Null key values profile as the
    * [[NullCategoryKey]] segment of the concatenated key (coalesced BEFORE
    * concat_ws, which would otherwise drop null segments without a separator
    * and merge distinct tuples like ('a', null) and (null, 'a')). */
  def keySkewProfile(
      df: DataFrame, keyCols: Seq[String], topK: Int, parallelism: Int): DataFrame = {
    val keyStr = compositeKey(keyCols)
    val counts = df.groupBy(keyStr.as("key")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).cast(LongType).as("total_rows"),
      count(lit(1)).as("distinct_keys"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(topK)
    top.crossJoin(broadcast(totals))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)).cast(LongType))
      // `div`, not `/`: Column `/` on longs is DOUBLE division, which loses
      // exactness past 2^53 (cnt * 10000 at 10^12 rows); div stays integral
      .withColumn("pct_x10000", expr("(cnt * 10000L) div total_rows"))
      .withColumn("salt_factor",
        greatest(lit(1L),
          expr(s"(cnt * ${parallelism}L + total_rows - 1) div total_rows")))
      .select("rank", "key", "cnt", "pct_x10000", "salt_factor",
        "total_rows", "distinct_keys")
  }

  // --------------------------------------------------------------------------
  // N13: functional-dependency profile — does det → dep hold? The table-scope
  // consistency check between uniqueness (det → EVERYTHING) and referential
  // (dep values exist elsewhere): e.g. "repo determines lang" on the
  // source-code table, with the violating repos listed alongside their
  // majority language and how many rows disagree with it.
  //
  // Scale model: TWO chained hash aggregates, both map-side partial. The first
  // shuffles (det, dep, partial-count) — never rows; the second runs over the
  // distinct (det, dep) frame only. The majority value is folded inside the
  // second aggregate via min(struct(-cnt, dep)) — deterministic (count desc,
  // value asc) WITHOUT a window, because a window PARTITION BY det would
  // funnel each det-group through a sort while the struct-min stays a hash
  // aggregate. All counts are BIGINT; no float arithmetic anywhere.
  // --------------------------------------------------------------------------

  /** Determinant groups where `detCols` does NOT determine `depCol`:
    * (key, grp_rows, distinct_deps, majority_dep, majority_cnt,
    * minority_rows). `minority_rows` (= grp_rows - majority_cnt) is the repair
    * cost: rows that must change for the dependency to hold. Null dep values
    * count as the [[NullCategoryKey]] category; null det segments are coalesced
    * to [[NullCategoryKey]] before concatenation (via [[compositeKey]], same
    * convention as [[keySkewProfile]]), so distinct multi-column det tuples
    * never collide. Groups that satisfy the dependency are filtered out,
    * so output ∝ violations, not table size. */
  def functionalDependencyViolations(
      df: DataFrame, detCols: Seq[String], depCol: String): DataFrame = {
    val keyStr = compositeKey(detCols)
    val depStr = coalesce(col(depCol).cast(StringType), lit(NullCategoryKey))
    val pairCounts = df
      .groupBy(keyStr.as("key"), depStr.as("dep"))
      .agg(count(lit(1)).as("cnt"))
    pairCounts
      .groupBy("key")
      .agg(
        sum(col("cnt")).cast(LongType).as("grp_rows"),
        count(lit(1)).as("distinct_deps"),
        min(struct((-col("cnt")).as("neg_cnt"), col("dep").as("dep"))).as("mj"))
      .filter(col("distinct_deps") > 1)
      .select(
        col("key"),
        col("grp_rows"),
        col("distinct_deps"),
        col("mj.dep").as("majority_dep"),
        (-col("mj.neg_cnt")).cast(LongType).as("majority_cnt"),
        (col("grp_rows") + col("mj.neg_cnt")).cast(LongType).as("minority_rows"))
  }

  /** The REPAIR projection for [[functionalDependencyViolations]]: every row
    * whose determinant group violates the dependency gets `depCol` rewritten
    * to the group's majority value (same deterministic tie-break: count desc,
    * string form asc); rows in satisfying groups pass through untouched.
    * Output schema == input schema (`depCol` keeps its original type — the
    * majority is carried as the TYPED value through the struct-min, never
    * round-tripped through its string form).
    *
    * Scale model: the majority frame holds only VIOLATING keys (∝ violations,
    * not table size — usually broadcast-sized, AQE decides), joined back on
    * the composite key string; the rewrite itself is a single `when`
    * projection. A null majority (nulls are the most common dep in the group)
    * rewrites minority rows to null — presence is signalled by a flag column,
    * not by the value, so a left-join miss is never confused with it. */
  def functionalDependencyRepair(
      df: DataFrame, detCols: Seq[String], depCol: String): DataFrame = {
    val keyStr = compositeKey(detCols)
    val depStr = coalesce(col(depCol).cast(StringType), lit(NullCategoryKey))
    val majority = df
      .groupBy(keyStr.as("__fd_key"), depStr.as("dep_s"), col(depCol).as("dep_v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("__fd_key")
      .agg(
        count(lit(1)).as("distinct_deps"),
        min(struct((-col("cnt")).as("neg_cnt"), col("dep_s").as("ds"),
          col("dep_v").as("dv"))).as("mj"))
      .filter(col("distinct_deps") > 1)
      .select(col("__fd_key"), col("mj.dv").as("__fd_majority"),
        lit(true).as("__fd_hit"))
    df.withColumn("__fd_key", keyStr)
      .join(majority, Seq("__fd_key"), "left")
      .withColumn(depCol,
        when(col("__fd_hit"), col("__fd_majority")).otherwise(col(depCol)))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}
