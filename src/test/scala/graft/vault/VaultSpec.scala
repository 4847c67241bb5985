package graft.vault

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** SCD2 satellite invariants (SURVEY §5 property list) + hub/link/drift
  * semantics on hand-built data. */
class VaultSpec extends SparkSpec {
  import spark.implicits._

  private val loads = Seq(
    // key, load_date, seq, status
    ("k1", "2024-01-01", 1L, "A"),
    ("k1", "2024-01-02", 2L, "A"), // unchanged → compressed away
    ("k1", "2024-01-03", 3L, "B"), // change
    ("k1", "2024-01-04", 4L, "A"), // change back
    ("k2", "2024-01-01", 5L, "X")
  ).toDF("bk", "load_date", "seq", "status")

  test("satellite compresses unchanged rows and closes versions with lead()") {
    val sat = Vault.satellite(loads, "t", Seq("bk"), Seq("status"), "load_date", Seq("seq"))
      .orderBy("sat_t_hash_key", "load_date")
    val k1 = sat.filter(col("sat_t_hash_key") === md5Hex("k1")).collect()
    assert(k1.map(_.getAs[String]("load_date")).toSeq ===
      Seq("2024-01-01", "2024-01-03", "2024-01-04"))
    assert(k1.map(_.getAs[String]("load_end_date")).toSeq ===
      Seq("2024-01-03", "2024-01-04", null))
    assert(k1.map(_.getAs[String]("status")).toSeq === Seq("A", "B", "A"))
    // exactly one open row per key
    val open = sat.filter(col("load_end_date").isNull).groupBy("sat_t_hash_key").count()
    assert(open.select("count").as[Long].collect().forall(_ === 1L))
  }

  test("snapshotAt reconstructs the state current at any date") {
    val sat = Vault.satellite(loads, "t", Seq("bk"), Seq("status"), "load_date", Seq("seq"))
    // k1 versions: A [01-01,01-03), B [01-03,01-04), A [01-04,open)
    def statusAt(d: String): String =
      Vault.snapshotAt(sat, lit(d))
        .filter(col("sat_t_hash_key") === md5Hex("k1"))
        .select("status").as[String].collect().mkString
    assert(statusAt("2024-01-01") === "A")
    assert(statusAt("2024-01-02") === "A")
    assert(statusAt("2024-01-03") === "B") // boundary: new version wins
    assert(statusAt("2024-01-09") === "A") // open version
    assert(statusAt("2023-12-31") === "")  // before first load: no row
  }

  test("satellite is idempotent: rebuilding from the same source is identical") {
    val a = Vault.satellite(loads, "t", Seq("bk"), Seq("status"), "load_date", Seq("seq"))
    val b = Vault.satellite(loads, "t", Seq("bk"), Seq("status"), "load_date", Seq("seq"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("no overlapping validity windows per key") {
    val sat = Vault.satellite(loads, "t", Seq("bk"), Seq("status"), "load_date", Seq("seq"))
    val rows = sat.filter(col("sat_t_hash_key") === md5Hex("k1"))
      .orderBy("load_date").collect()
    rows.sliding(2).foreach {
      case Array(prev, next) =>
        assert(prev.getAs[String]("load_end_date") === next.getAs[String]("load_date"))
      case _ =>
    }
  }

  test("hub dedups business keys; link hashes composite keys") {
    val src = Seq((1L, 10L), (1L, 10L), (2L, 20L)).toDF("a_key", "b_key")
    val hub = Vault.hub(src, "a", Seq("a_key"), lit("2024-01-01"), "test")
    assert(hub.count() === 2)
    val link = Vault.link(src, "ab", Seq("a" -> Seq("a_key"), "b" -> Seq("b_key")),
      lit("2024-01-01"), "test")
    assert(link.count() === 2)
    assert(link.columns.toSeq.contains("hub_a_hash_key"))
  }

  test("loadNewKeys with no new key commits nothing") {
    val wh = new graft.core.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_vault_").toString)
    val hub = Vault.hub(Seq(Tuple1(1L)).toDF("a_key"), "a", Seq("a_key"),
      lit("2024-01-01"), "test")
    assert(Vault.loadNewKeys(wh, "hub_a", hub) === 1L)
    assert(Vault.loadNewKeys(wh, "hub_a", hub) === 1L)
    assert(wh.currentVersion("raw_vault", "hub_a") === 1L)
    assert(wh.dataDirs("raw_vault", "hub_a").size === 1)
    // the empty second write leaves no data dir behind either
    assert(new java.io.File(wh.tableDir("raw_vault", "hub_a"), "data").list().length === 1)
    assert(wh.read("raw_vault", "hub_a").count() === 1L)
  }

  test("schema drift emits I for added, D for removed, D+I for type change") {
    val old = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("gone", StringType)))
    val nu = StructType(Seq(
      StructField("id", StringType), // type change
      StructField("name", StringType),
      StructField("added", IntegerType)))
    val d = SchemaDrift.diff(old, nu, "t")
    assert(d.map(r => (r.column_name, r.status)).toSet ===
      Set(("gone", "D"), ("added", "I"), ("id", "D"), ("id", "I")))
    assert(SchemaDrift.hasDrift(old, nu))
    assert(!SchemaDrift.hasDrift(old, old))
  }

  test("hash keys distinguish NULL from value, empty, and swapped position") {
    import spark.implicits._
    val rows = Seq(
      (1L, Option("a"), Option("x")),
      (2L, None: Option[String], Option("x")),
      (3L, Option("x"), None: Option[String]),
      (4L, Option(""), Option("x")),
      (5L, None: Option[String], None: Option[String])
    ).toDF("id", "u", "v")
      .select(col("id"), Vault.hashKey(Seq(col("u"), col("v"))).as("hk"))
      .as[(Long, String)].collect().toMap
    // all five key shapes hash differently — concat_ws alone would collide
    // (NULL,'x') with ('x',NULL) and NULL with ''
    assert(rows.values.toSet.size === 5, rows.toString)
    // and the sentinel form is exactly md5(NUL||"||x") etc. (portable)
    assert(rows(2L) === md5Hex("\u0000||x"))
    assert(rows(3L) === md5Hex("x||\u0000"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
