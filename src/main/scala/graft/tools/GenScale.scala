package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of the documents/embeddings fixtures for the
  * sf1.0 scale probe (BENCH.md). `/root/testdata` is read-only and tops out
  * at sf0.1; the 2× oracle envelope is only ever measured there, where
  * Spark's ~0.3–0.5 s scheduling floor can hide scaling behavior. This tool
  * synthesizes a 10× corpus into `target/sf1.0/` so the heavy dedup/ANN
  * family (q20/q36/q97/q99/q111/q119) can be timed at 50k docs / 20k
  * vectors and checked for ~linear growth.
  *
  * Design: union of `factor` shards. Shard 0 is the original fixture
  * verbatim; shard c remaps ids to `c*n + id` and perturbs content with
  * hash-seeded (xxhash64) randomness so the generator is deterministic,
  * fully distributed (no collect, no driver RNG), and reproducible:
  *  - documents: each word is independently replaced (p = 0.4) by a
  *    hash-chosen word from the fixture's 31-token vocabulary. 40% token
  *    churn collapses 20-gram/shingle overlap across shards (0.6^5 ≈ 8%
  *    Jaccard on 5-shingles), so shards do NOT become 10× planted
  *    near-dup clusters — the background LSH collision rate, which is
  *    what drives candidate counts, stays at the fixture's level.
  *  - embeddings: per-component uniform noise (±0.25, hash-seeded) then
  *    L2 renormalization — unit norm preserved (the fixture's invariant),
  *    label kept, cluster structure spread but not destroyed.
  *
  * Run: `sbt "runMain graft.tools.GenScale [factor] [outDir]"`.
  */
object GenScale {
  val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Shard-c document frame: ids offset by c*n, words churned at 40%. */
  def docShard(docs: DataFrame, c: Int, n: Long): DataFrame = {
    if (c == 0) return docs
    val vocabCol = array(Vocab.map(lit): _*)
    val newId = col("doc_id") + lit(c.toLong * n)
    // per-(doc,position) decisions keyed on the NEW id so every shard
    // draws an independent hash stream from the same deterministic seed
    val churned = transform(
      split(col("text"), " "),
      (w, i) => when(
        pmod(xxhash64(newId, i, lit(17)), lit(100)) < lit(40),
        element_at(vocabCol, (pmod(xxhash64(newId, i, lit(31)), lit(31)) + 1).cast("int"))
      ).otherwise(w))
    docs.select(
      newId.as("doc_id"),
      concat_ws(" ", churned).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Shard-c embedding frame: ids offset, ±0.25 hash noise, renormalized. */
  def embShard(emb: DataFrame, c: Int, n: Long): DataFrame = {
    if (c == 0) return emb
    val newId = col("vec_id") + lit(c.toLong * n)
    val noisy = transform(
      col("embedding"),
      (v, j) => v + (pmod(xxhash64(newId, j, lit(43)), lit(2001)).cast("double") - 1000.0d)
        / 1000.0d * 0.25d)
    val norm = sqrt(aggregate(noisy, lit(0.0d), (acc, v) => acc + v * v))
    emb.select(
      newId.as("vec_id"),
      transform(noisy, v => (v / norm).cast("float")).as("embedding"),
      col("label"))
  }

  /** Shard-c events frame (for the q125 theta-sketch sf1.0 gate):
    * event_id offset by c*n; 40% of rows draw a hash-chosen user from a
    * 2× user-id domain (keyed on the NEW event id — deterministic,
    * distributed), the rest keep their user. Per-type distinct-user sets
    * therefore GROW with scale but keep heavy cross-type overlap — the
    * regime the pairwise theta estimators exist for. ts/value/props ride
    * along unchanged (the sketch queries never read them, but the table
    * stays schema-complete for any other consumer). */
  def eventShard(events: DataFrame, c: Int, n: Long): DataFrame = {
    if (c == 0) return events
    val newId = col("event_id") + lit(c.toLong * n)
    val maxUser = lit(3000L) // fixture user ids are < 1500; churn doubles the domain
    val churned = when(
      pmod(xxhash64(newId, lit(53)), lit(100)) < lit(40),
      pmod(xxhash64(newId, lit(59)), maxUser)
    ).otherwise(col("user_id"))
    events.select(
      newId.as("event_id"), col("ts"), churned.as("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  def scaled(base: DataFrame, factor: Int, shard: (DataFrame, Int, Long) => DataFrame): DataFrame = {
    val n = base.count()
    (0 until factor).map(c => shard(base, c, n)).reduce(_ unionAll _)
  }

  /** Key-offset shard for the relational (TPC-H-shaped) tables: shard c
    * shifts each listed key column by c × (that key's base-table count),
    * so every table's primary key stays unique and every FK into a scaled
    * table keeps pointing at the same logical row — referential integrity
    * holds per shard BY CONSTRUCTION (the TPC-H dbgen scaling rule).
    * nation/region are fixed dims (TPC-H never scales them) and copy
    * verbatim, so c_nationkey/s_nationkey stay in-domain untouched.
    * Values ride unchanged: every registered relational query is
    * tie-stable (explicit key tiebreaks pinned for the tri-scale hash
    * gate), so duplicated value distributions cannot produce
    * nondeterminism, and the sf1.0 sweep's scan/join/agg cost is driven
    * by row count, not value entropy. */
  def keyShard(df: DataFrame, c: Int, offsets: Seq[(String, Long)]): DataFrame =
    if (c == 0) df
    else offsets.foldLeft(df) { case (d, (k, n)) =>
      d.withColumn(k, col(k) + lit(c.toLong * n))
    }

  /** Scale the five FK-linked relational tables together (shared base
    * counts drive every offset) and copy the fixed dims. */
  def writeRelational(spark: SparkSession, srcDir: String, outDir: String,
                      factor: Int): Unit = {
    val t = Seq("customer", "supplier", "part", "orders", "lineitem",
      "region", "nation")
      .map(n => n -> spark.read.parquet(s"$srcDir/$n.parquet")).toMap
    val nCust = t("customer").count()
    val nSupp = t("supplier").count()
    val nPart = t("part").count()
    val nOrd = t("orders").count()
    def out(name: String, df: DataFrame, files: Int): Unit =
      df.repartition(files).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def rel(name: String, offsets: Seq[(String, Long)], files: Int): Unit =
      out(name, (0 until factor).map(c => keyShard(t(name), c, offsets))
        .reduce(_ unionAll _), files)
    rel("customer", Seq("c_custkey" -> nCust), 4)
    rel("supplier", Seq("s_suppkey" -> nSupp), 1)
    rel("part", Seq("p_partkey" -> nPart), 4)
    rel("orders", Seq("o_orderkey" -> nOrd, "o_custkey" -> nCust), 8)
    rel("lineitem", Seq("l_orderkey" -> nOrd, "l_partkey" -> nPart,
      "l_suppkey" -> nSupp), 8)
    out("region", t("region"), 1)
    out("nation", t("nation"), 1)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val outDir = args.lift(1).getOrElse("target/sf1.0")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.builder(cores, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    // 8 output files each: sized so sf1.0 scans parallelize across cores
    // without thousands of tiny footers
    scaled(docs, factor, docShard).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    scaled(emb, factor, embShard).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val events = spark.read.parquet(s"$srcDir/events.parquet")
    scaled(events, factor, eventShard).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    writeRelational(spark, srcDir, outDir, factor)
    println(s"GENSCALE wrote factor=$factor to $outDir")
    spark.stop()
  }
}
