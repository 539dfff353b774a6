package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, row
  * index, version), so one seed always yields the same files, whatever the
  * partitioning. The program only ever sees the parquet these write. */
object Gen {

  /** Staged bucket count of every validation workload. */
  val Buckets = 32
  /** Files per generated input, whatever the core count. */
  val Partitions = 4

  // ---------------------------------------------------------------------------
  // Source-code table (repo, path, commit, lang, content, content_sha256)
  // ---------------------------------------------------------------------------

  val Langs: Seq[String] = Seq("scala", "python", "elixir", "go", "rust", "java")
  private val CodeWords: Seq[String] = Seq(
    "def", "val", "case", "match", "import", "spark", "schema", "filter",
    "column", "partition", "shuffle", "hash", "join", "agg", "stream", "batch",
    "class", "object", "trait", "return", "yield", "lazy", "final", "sealed")
  private val MaxCodeWords = 40

  /** 5..40 code words, a pure function of (seed, row id, content version). */
  private def codeWords(seed: Long, id: Long, version: Int): String = {
    val r = rng(seed, id, version, 11)
    Seq.fill(5 + r.nextInt(MaxCodeWords - 4))(CodeWords(r.nextInt(CodeWords.size))).mkString(" ")
  }

  /** The staged layout's bucket of a row: the bucket the program derives from
    * its (repo, path) key, reproduced here with Spark's own hash so snapshots
    * can change whole buckets. */
  private def bucketOf: Column =
    pmod(xxhash64(col("repo"), col("path")), lit(Buckets)).cast(IntegerType)

  /** One snapshot of the code table: `rows` base rows plus a duplicate key for
    * every 101st. Planted rates (of base rows): 20% in one mega-repo, 1/97
    * malformed path, 1/89 language outside the allow-set, 1/83 empty content,
    * 1/79 commit absent from the dim. `contentVersion` maps a bucket to the
    * version of its content; a snapshot changes a bucket by bumping it. */
  def codeTable(spark: SparkSession, rows: Long, seed: Long,
      contentVersion: Column => Column = _ => lit(0)): DataFrame = {
    val id = col("id")
    def pick(n: Int, salt: Int): Column = pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))
    def oneOf(xs: Seq[String], salt: Int): Column =
      element_at(array(xs.map(lit): _*), (pick(xs.size, salt) + 1).cast(IntegerType))
    val repo = when(id % 5 === 0, lit("org0/mega"))
      .otherwise(concat(lit("org"), pick(20, 1), lit("/repo"), pick(50, 2)))
    val goodPath = concat(oneOf(Seq("src", "lib", "test"), 3), lit("/pkg"), pick(40, 4),
      lit("/file"), pick(1000000, 5), oneOf(Seq(".scala", ".py", ".ex", ".go"), 6))
    val path = when(id % 97 === 0, concat(lit("///bad path "), pick(1000, 7))).otherwise(goodPath)
    val commit = when(id % 79 === 0,
        substring(sha2(concat(lit("dangling"), id.cast(StringType), lit(seed.toString)), 256), 1, 40))
      .otherwise(substring(sha2(concat(repo, lit("@"), pick(8, 8).cast(StringType), lit(seed.toString)), 256), 1, 40))
    val lang = when(id % 89 === 0, lit("klingon")).otherwise(oneOf(Langs, 9))
    val base = spark.range(0, rows, 1, Partitions).select(id, repo.as("repo"), path.as("path"),
      commit.as("commit"), lang.as("lang"))
    val keyed = base.unionByName(base.filter(id % 101 === 0).withColumn("id", id + rows))
    val version = contentVersion(bucketOf)
    val body = udf((id: Long, v: Int) => codeWords(seed, id, v))
    val content = when(id % 83 === 0, lit("")).otherwise(body(id, version))
    keyed.withColumn("content", content)
      .withColumn("content_sha256", sha2(col("content"), 256))
  }

  /** Version map for snapshot `k` of an evolving table: bucket b carries the
    * latest j <= k whose change set holds b (0 when none did). */
  def versionsAt(changes: Seq[Set[Int]], k: Int): Column => Column = { bucket =>
    val latest = (0 until Buckets).flatMap(b =>
      (k to 1 by -1).find(j => changes(j - 1).contains(b)).map(b -> _)).toMap
    if (latest.isEmpty) lit(0)
    else coalesce(element_at(typedLit(latest), bucket), lit(0))
  }

  /** Seeded change sets: snapshot j (1-based) changes `perSnapshot` buckets. */
  def changeSets(seed: Long, snapshots: Int, perSnapshot: Int): Seq[Set[Int]] =
    (1 to snapshots).map(j =>
      new scala.util.Random(seed * 7919 + j).shuffle((0 until Buckets).toList).take(perSnapshot).toSet)

  /** Referential dim: the (repo, commit) pairs of every base row not planted
    * as dangling (a duplicate-key row shares its base row's fate). */
  def dim(table: DataFrame, rows: Long): DataFrame =
    table.filter(col("id") < rows && col("id") % 79 =!= 0).select("repo", "commit").distinct()

  // ---------------------------------------------------------------------------
  // Corpus deltas (doc_id, text) and the decontamination probe. Built
  // row by row in Scala: a hundred word picks per document as column
  // expressions outgrow Java's 64 KB method limit and lose codegen.
  // ---------------------------------------------------------------------------

  val DocWords = 100
  val IdStride = 1000000L

  /** 4096 letters-only pseudo-words (no digits, so no PII redaction fires). */
  private val Vocab: Array[String] = {
    val on = Seq("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "sh")
    val nu = Seq("a", "e", "i", "o", "u", "ai", "ou", "ea")
    for (a <- on; b <- nu; c <- on; d <- Seq("a", "o")) yield a + b + c + d
  }.toArray

  private def rng(parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(parts.foldLeft(0x9E3779B97F4A7C15L) { (h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 27) * 0x94D049BB133111EBL
    })

  private def freshWords(seed: Long, k: Long, i: Long): Array[String] = {
    val r = rng(seed, k, i, 1)
    Array.fill(DocWords)(Vocab(r.nextInt(Vocab.length)))
  }

  private def probeWords(seed: Long, pid: Long): Array[String] = {
    val r = rng(seed, -1, pid, 9)
    Array.fill(40)(Vocab(r.nextInt(Vocab.length)))
  }

  /** Planted roles, by doc index mod 100 (rates are of the delta's docs):
    *  - 0..2   exact copy of doc i+3 of the same delta               (3%)
    *  - 10..14 one-word edit of doc i+40 of the previous delta       (5%)
    *  - 20..21 carries a 20-word span of a probe text                (2%)
    *  - 40     30 words of its own, then its first word 70 times     (1%)
    *           (fails a top-word cap below 70%)
    * Delta 0 refers to itself where a role names the previous delta. */
  def delta(spark: SparkSession, seed: Long, k: Int, docs: Int, probeTexts: Int): DataFrame = {
    val prev = math.max(k - 1, 0).toLong
    val rows = spark.sparkContext.parallelize(0 until docs, Partitions).map { ii =>
      val i = ii.toLong
      val r = i % 100
      val own = freshWords(seed, k, i)
      val words =
        if (r < 3) freshWords(seed, k, i + 3)
        else if (r >= 10 && r < 15) freshWords(seed, prev, i + 40).updated(DocWords / 2, "zzedit")
        else if (r >= 20 && r < 22)
          own.take(30) ++ probeWords(seed, rng(seed, k, i, 7).nextInt(probeTexts)).take(20) ++ own.drop(50)
        else if (r == 40) own.take(30) ++ Array.fill(70)(own.head)
        else own
      Row(k * IdStride + i, words.mkString(" "))
    }
    spark.createDataFrame(rows, StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType))))
  }

  /** Decontamination probe (pid, ptext): `n` benchmark texts of 40 words. */
  def probe(spark: SparkSession, seed: Long, n: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(0 until n, 1).map(p => Row(p.toLong, probeWords(seed, p).mkString(" "))),
      StructType(Seq(StructField("pid", LongType, nullable = false), StructField("ptext", StringType))))
}
