package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic input generator. It writes the tables the engine's query
  * registry reads (`<dir>/<table>.parquet`, one Spark-written directory
  * each), with the value domains of the TPC-H-like fixtures the engine is
  * tested on: the same columns and types, uniform keys, a 30-word document
  * vocabulary, ~5% of documents planted as near duplicates the way the
  * fixtures plant them. Every table draws from its own
  * `SplittableRandom(Seed, table)`, so a table's rows depend only on the
  * seed and its own size. The seed is
  * fixed so that query results can be pinned; a run's `--seed` only orders
  * its operations and drives the vault churn.
  *
  * Timestamps are written as TIMESTAMP_NTZ, which is how the fixtures'
  * parquet files arrive in Spark and in DuckDB.
  */
object Gen {

  /** Row counts of one generated data set. */
  case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int,
                   lineitem: Int, events: Int, documents: Int)

  val Seed = 42L

  /** One hundredth of TPC-H scale factor 1, like the fixtures' sf0.01. */
  val Sf001 = Sizes(customer = 1500, supplier = 100, part = 2000,
    orders = 15000, lineitem = 60000, events = 10000, documents = 500)

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val PartAdj = Seq("blue", "cold", "hot", "large", "old", "red", "small", "smooth")
  val PartNoun = Seq("bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve")
  val Flags = Seq(("R", "O"), ("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "F"))
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  /** Languages other than English, which takes 44% of the documents. */
  val Langs = Seq("de", "es", "fr", "zh")
  val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  private def rng(seed: Long, table: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L + table.hashCode)

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100

  private def day(base: LocalDateTime, r: SplittableRandom, days: Int): LocalDateTime =
    base.plusDays(r.nextInt(days).toLong)

  private val D1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Every generated table, as (name, schema, rows). */
  private def tables(seed: Long, s: Sizes): Seq[(String, StructType, () => Seq[Row])] = Seq(
    ("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
      () => Regions.indices.map(i => Row(i, Regions(i)))),
    ("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      () => (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
    ("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      () => { val r = rng(seed, "customer")
        (0 until s.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          cents(r, -999.99, 9999.99), Segments(r.nextInt(5)))) }),
    ("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      () => { val r = rng(seed, "supplier")
        (0 until s.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          cents(r, -999.99, 9999.99))) }),
    ("part", schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      () => { val r = rng(seed, "part")
        (0 until s.part).map(i => Row(i.toLong,
          s"${PartAdj(r.nextInt(8))} ${PartNoun(r.nextInt(8))}", s"Brand#${r.nextInt(25)}",
          PartTypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)) }),
    ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      () => { val r = rng(seed, "orders")
        (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customer).toLong,
          Seq("F", "O", "P")(r.nextInt(3)), cents(r, 1000.0, 500000.0),
          day(D1995, r, 2404), Priorities(r.nextInt(5)))) }),
    ("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      () => { val r = rng(seed, "lineitem")
        (0 until s.lineitem).map { _ =>
          val (rf, ls) = Flags(r.nextInt(6))
          Row(r.nextInt(s.orders).toLong, r.nextInt(s.part).toLong,
            r.nextInt(s.supplier).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
            cents(r, 900.0, 105000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            rf, ls, day(D1995.plusDays(1), r, 2498))
        } }),
    ("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      () => { val r = rng(seed, "events")
        // ids in time order over 30 days, like the fixture stream
        val users = math.max(1, s.events * 3 / 200)
        val stepMicros = 30L * 86400L * 1000000L / s.events
        val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
        var t = 0L
        (0 until s.events).map { i =>
          t += (r.nextDouble() * 2 * stepMicros).toLong
          Row(i.toLong, t0.plusNanos(t * 1000L), r.nextInt(users).toLong,
            EventTypes(r.nextInt(5)), cents(r, 0.0, 500.0), s"""{"k": ${r.nextInt(100)}}""")
        } }),
    ("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      () => { val r = rng(seed, "documents")
        // as in the fixtures: 10-100 uniform words, and ~5% near duplicates,
        // each a copy of another document (earlier or later) with "dup" appended
        val texts = Array.fill(s.documents)(Vector.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))))
        val isDup = Array.fill(s.documents)(r.nextInt(1000) < 50)
        for (i <- texts.indices if isDup(i)) {
          val j = r.nextInt(s.documents - 1)
          texts(i) = texts(if (j >= i) j + 1 else j) :+ "dup"
        }
        texts.indices.map { i =>
          val text = texts(i).mkString(" ")
          val lang = if (r.nextInt(100) < 44) "en" else Langs(r.nextInt(Langs.size))
          Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
        } }))

  /** Write the named tables under `dir`, one parquet directory each. */
  def write(spark: SparkSession, dir: String, names: Set[String]): Unit =
    tables(Seed, Sf001).filter(t => names(t._1)).foreach { case (name, sch, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows(), 1), sch)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
