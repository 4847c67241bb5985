package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.maintenance.Maintenance

/** Versioned-warehouse semantics: overwrite/append/merge/update/delete,
  * metadata log, catalog listing, compaction, orphan sweep. */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_wh_").toString)

  test("overwrite/read round-trips and bumps versions") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(wh.read("s", "t").count() === 2)
    wh.overwrite("s", "t", Seq((3, "c")).toDF("id", "v"))
    assert(wh.currentVersion("s", "t") === 2)
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === Set((3, "c")))
  }

  test("append adds rows without rewriting previous data") {
    val wh = freshWh()
    wh.append("s", "t", Seq((1, "a")).toDF("id", "v"))
    wh.append("s", "t", Seq((2, "b")).toDF("id", "v"))
    assert(wh.read("s", "t").count() === 2)
    assert(wh.dataDirs("s", "t").size === 2)
  }

  test("merge upserts matched keys and inserts new ones") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    wh.merge("s", "t", Seq((2, "B"), (3, "c")).toDF("id", "v"), Seq("id"))
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("merge is idempotent") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a")).toDF("id", "v"))
    val src = Seq((1, "A"), (2, "b")).toDF("id", "v")
    wh.merge("s", "t", src, Seq("id"))
    val once = wh.read("s", "t").as[(Int, String)].collect().toSet
    wh.merge("s", "t", src, Seq("id"))
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === once)
  }

  test("update and delete rewrite only keyed rows") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    wh.update("s", "t", Seq(Tuple1(2)).toDF("id"), Seq("id"), Map("v" -> lit("U")))
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "U"), (3, "c")))
    wh.delete("s", "t", Seq(Tuple1(1)).toDF("id"), Seq("id"))
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet ===
      Set((2, "U"), (3, "c")))
  }

  test("metadata log records one entry per commit; listTables sees the table") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a")).toDF("id", "v"))
    wh.overwrite("s", "t", Seq((2, "b")).toDF("id", "v"))
    assert(wh.metadataLog("s", "t").count() === 2)
    assert(wh.listTables().as[(String, String)].collect().toSet === Set(("s", "t")))
  }

  test("compaction rewrites to few files; orphan sweep removes stale dirs") {
    val wh = freshWh()
    (1 to 3).foreach(i => wh.append("s", "t", Seq((i, i.toString)).toDF("id", "v")))
    val before = wh.read("s", "t").as[(Int, String)].collect().toSet
    Maintenance.compact(spark, wh, "s", "t")
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === before)
    assert(wh.dataDirs("s", "t").size === 1)
    // now versions 1-3's dirs are only referenced by old logs; prune logs
    // then sweep with no retention → old data dirs deleted, table intact
    val deletedLogs = Maintenance.pruneMetadataLog(spark, wh, "s", "t", "1970-01")
    assert(deletedLogs.nonEmpty)
    val deleted = Maintenance.orphanSweep(spark, wh, "s", "t")
    assert(deleted.size === 3)
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === before)
  }

  test("compaction skips a table that is one version in few enough files") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a"), (2, "b")).toDF("id", "v").coalesce(1))
    assert(Maintenance.compact(spark, wh, "s", "t") === -1L)
    assert(wh.currentVersion("s", "t") === 1L)
    // one version spread over more files than the target count is rewritten
    wh.overwrite("s", "u", Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(2))
    assert(Maintenance.compact(spark, wh, "s", "u") === 2L)
    assert(Maintenance.compact(spark, wh, "s", "u") === -1L)
    assert(wh.read("s", "u").as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("orphan sweep fails closed on an unreadable version list") {
    import org.apache.hadoop.fs.Path
    val wh = freshWh()
    (1 to 3).foreach(i => wh.overwrite("s", "t", Seq((i, i.toString)).toDF("id", "v")))
    val dir = wh.tableDir("s", "t")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs() = fs.listStatus(new Path(s"$dir/data")).map(_.getPath.getName).toSet
    // a retained version whose list is unreadable (here a directory)
    fs.delete(new Path(s"$dir/_log/v1.list"), false)
    fs.mkdirs(new Path(s"$dir/_log/v1.list"))
    intercept[Exception](Maintenance.orphanSweep(spark, wh, "s", "t"))
    assert(dataDirs() === Set("v1", "v2", "v3"))
    // the current version's list is absent
    fs.delete(new Path(s"$dir/_log/v1.list"), true)
    fs.delete(new Path(s"$dir/_log/v3.list"), false)
    intercept[Exception](Maintenance.orphanSweep(spark, wh, "s", "t"))
    assert(dataDirs() === Set("v1", "v2", "v3"))
  }

  test("backup manifest restores the catalog after metadata loss") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    wh.overwrite("s", "u", Seq((9, "z")).toDF("id", "v"))
    val manifest = wh.backupManifest()
    assert(manifest.count() === 2)
    // simulate catalog loss: delete pointers + logs, data dirs stay
    import org.apache.hadoop.fs.Path
    val fs = new Path(wh.tableDir("s", "t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("t", "u").foreach { t =>
      fs.delete(new Path(wh.tableDir("s", t) + "/_current"), false)
      fs.delete(new Path(wh.tableDir("s", t) + "/_log"), true)
    }
    assert(!wh.exists("s", "t"))
    wh.restore(manifest)
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    assert(wh.read("s", "u").count() === 1)
  }

  test("time travel: readAt returns earlier committed versions") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a")).toDF("id", "v"))
    wh.overwrite("s", "t", Seq((2, "b")).toDF("id", "v"))
    wh.append("s", "t", Seq((3, "c")).toDF("id", "v"))
    assert(wh.readAt("s", "t", 1).as[(Int, String)].collect().toSet === Set((1, "a")))
    assert(wh.readAt("s", "t", 2).as[(Int, String)].collect().toSet === Set((2, "b")))
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === Set((2, "b"), (3, "c")))
  }

  test("missing _current recovers from the committed log (crash window)") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a")).toDF("id", "v"))
    wh.overwrite("s", "t", Seq((2, "b")).toDF("id", "v"))
    import org.apache.hadoop.fs.Path
    val fs = new Path(wh.tableDir("s", "t")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(wh.tableDir("s", "t") + "/_current"), false) // crash between delete+rename
    assert(wh.currentVersion("s", "t") === 2)
    assert(wh.read("s", "t").as[(Int, String)].collect().toSet === Set((2, "b")))
  }

  test("partitioning is sticky across rewrites (compaction keeps the layout)") {
    val wh = freshWh()
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("etl_date", "v")
    wh.overwrite("s", "t", df, partitionBy = Seq("etl_date"))
    // a rewrite WITHOUT partitionBy (e.g. compaction, MERGE) keeps the layout
    wh.overwrite("s", "t", wh.read("s", "t"))
    assert(wh.partitioning("s", "t") === Seq("etl_date"))
    val plan = wh.read("s", "t").filter(col("etl_date") === "2024-01-01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("etl_date"))
  }

  test("published bucketed marts join with zero exchanges") {
    import spark.implicits._
    val wh = freshWh()
    // clear any leftover managed locations from a crashed prior run
    val whDir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "graft_mart.db")
    if (whDir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(whDir)
    wh.overwrite("mart", "orders",
      (1 to 500).map(i => (i.toLong, s"o$i")).toDF("k", "ov"))
    wh.overwrite("mart", "lineitem",
      (1 to 1500).map(i => ((i % 500 + 1).toLong, s"l$i")).toDF("k", "lv"))
    val mo = wh.publishBucketedMart("mart", "orders", Seq("k"), 8)
    val ml = wh.publishBucketedMart("mart", "lineitem", Seq("k"), 8)
    // mart content equals the versioned table
    assert(spark.table(mo).count() === 500)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(mo).join(spark.table(ml), "k")
      assert(joined.count() === 1500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed mart join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
