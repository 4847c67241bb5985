package graft.core

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.SparkSpec
import graft.maintenance.Maintenance

/** Versioned-warehouse semantics: overwrite/append/merge,
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

  // ---- read schema: taken from a footer on the driver, equal to Spark's inference ----

  private def assertSchemaParity(read: DataFrame, dirs: Seq[String]): Unit =
    assert(read.schema === spark.read.parquet(dirs: _*).schema)

  test("read schema equals Spark's inference: overwrite, v9/v10 chain, readAt, empty first append") {
    val wh = freshWh()
    val typed = Seq((1L, "a", java.sql.Date.valueOf("2024-01-01"), BigDecimal("1.50"), Seq(1, 2)))
      .toDF("id", "s", "d", "amt", "arr").withColumn("st", struct(col("id"), col("s")))
    wh.overwrite("s", "t", typed)
    assertSchemaParity(wh.read("s", "t"), wh.dataDirs("s", "t"))
    // dirs v8, v9, v10: Spark takes the schema from v10's file, the smallest
    // path, though v8 is listed first and holds other columns
    (2 to 8).foreach(_ => wh.overwrite("s", "t", Seq((1L, "a")).toDF("id", "a")))
    wh.append("s", "t", Seq((2L, "b")).toDF("id", "a"))
    wh.append("s", "t", Seq((3L, 3.0)).toDF("id", "b"))
    assert(wh.dataDirs("s", "t").map(_.split("/").last) === Seq("v8", "v9", "v10"))
    assertSchemaParity(wh.read("s", "t"), wh.dataDirs("s", "t"))
    assert(wh.read("s", "t").columns.toSeq === Seq("id", "b"))
    assertSchemaParity(wh.readAt("s", "t", 9), wh.dataDirs("s", "t", 9))
    assertSchemaParity(wh.readAt("s", "t", 1), wh.dataDirs("s", "t", 1))
    // a table created by an empty append
    wh.append("s", "e", Seq.empty[(Long, String)].toDF("id", "v"))
    wh.append("s", "e", Seq((1L, "a")).toDF("id", "v"))
    assertSchemaParity(wh.read("s", "e"), wh.dataDirs("s", "e"))
    assert(wh.read("s", "e").count() === 1)
  }

  test("read schema equals Spark's inference for registered dirs and partitioned tables") {
    val wh = freshWh()
    val ext = Files.createTempDirectory("graft_ext_").toString + "/out"
    Seq((1, "x")).toDF("k", "w").write.parquet(ext)
    wh.registerTable("s", "ext", Seq(ext))
    assertSchemaParity(wh.read("s", "ext"), wh.dataDirs("s", "ext"))
    // a file Spark did not write carries no Spark schema: inference runs
    wh.registerTable("s", "foreign", Seq(s"$sf/region.parquet"))
    assertSchemaParity(wh.read("s", "foreign"), wh.dataDirs("s", "foreign"))
    // partition column types come from directory names: inference runs
    wh.overwrite("s", "p", Seq(("2024-01-01", 1)).toDF("etl_date", "v"),
      partitionBy = Seq("etl_date"))
    assertSchemaParity(wh.read("s", "p"), wh.dataDirs("s", "p"))
    assert(wh.read("s", "p").schema("etl_date").dataType === DateType)
  }

  test("reading an unpartitioned table starts no Spark job") {
    val wh = freshWh()
    wh.overwrite("s", "t", Seq((1, "a")).toDF("id", "v"))
    wh.append("s", "t", Seq((2, "b")).toDF("id", "v"))
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("wh_read", "reads under test")
      wh.read("s", "t")
      wh.readAt("s", "t", 1)
      // listener events arrive in order: once the marker job is seen, every
      // job the reads started has been seen too
      sc.setJobGroup("wh_marker", "marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("wh_marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("wh_marker"))
      assert(groups.asScala.count(_ == "wh_read") === 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
