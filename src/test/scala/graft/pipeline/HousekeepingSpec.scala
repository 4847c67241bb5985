package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.controlplane.ControlPlane
import graft.core.Warehouse

class HousekeepingSpec extends SparkSpec {
  import spark.implicits._

  private def whWithTables(): Warehouse = {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_hk_").toString)
    (1 to 3).foreach(i => wh.append("s", "a", Seq((i, s"v$i")).toDF("id", "v")))
    wh.overwrite("s", "b", Seq((1, "x")).toDF("id", "v"))
    wh
  }

  test("compaction workflow compacts every table; statuses roll up") {
    val wh = whWithTables()
    val r = Housekeeping.runCompaction(spark, wh)
    r.assertAllSuccess()
    assert(r.runs.map(_.taskId).count(_.startsWith("compact_")) === 2)
    assert(wh.dataDirs("s", "a").size === 1) // 3 append dirs → 1
  }

  test("compaction jobs run under the job group of the call that started them") {
    // three tables appended twice, so every table needs a rewrite
    def uncompacted(): Warehouse = {
      val wh = new Warehouse(spark, Files.createTempDirectory("graft_hk_").toString)
      Seq("a", "b", "c").foreach(t => (1 to 2).foreach(i =>
        wh.append("s", t, Seq((i, t)).toDF("id", "v"))))
      wh
    }
    val (first, second) = (uncompacted(), uncompacted())
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    // listener events arrive in order, so a marker job's start delimits the
    // jobs started before it
    def mark(id: String): Unit = {
      sc.setJobGroup(id, id, interruptOnCancel = false)
      spark.range(1).count()
    }
    sc.addSparkListener(listener)
    try {
      // an earlier call under another group must not leave its group on the
      // threads of a later call
      sc.setJobGroup("hk-earlier", "earlier housekeeping", interruptOnCancel = false)
      Housekeeping.runCompaction(spark, first).assertAllSuccess()
      mark("hk-marker-1")
      sc.setJobGroup("hk-compaction", "housekeeping under test", interruptOnCancel = false)
      Housekeeping.runCompaction(spark, second).assertAllSuccess()
      mark("hk-marker-2")
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("hk-marker-2") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val compaction = groups.toArray.map(_.toString).toSeq
      .dropWhile(_ != "hk-marker-1").dropWhile(_ == "hk-marker-1")
      .takeWhile(_ != "hk-marker-2")
    assert(compaction.size >= 3, s"one rewrite job per table at least: $compaction")
    assert(compaction.forall(_ == "hk-compaction"), compaction)
    assert(Seq("a", "b", "c").forall(t => second.dataDirs("s", t).size == 1))
  }

  test("metadata prune gate: skips all work when compaction didn't run this month") {
    val wh = whWithTables()
    val skipped = Housekeeping.runMetadataPrune(spark, wh, "1970-01",
      compactionRanThisMonth = false)
    skipped.assertAllSuccess() // skipped counts as ok
    assert(skipped.status("start") === "skipped")
    assert(skipped.runs.filter(_.taskId.startsWith("prune_")).forall(_.status == "skipped"))
    assert(skipped.status("end") === "success") // all_done end ran
    val ran = Housekeeping.runMetadataPrune(spark, wh, "1970-01",
      compactionRanThisMonth = true)
    ran.assertAllSuccess()
    assert(ran.runs.filter(_.taskId.startsWith("prune_")).forall(_.status == "success"))
  }

  test("underscore-ambiguous table names abort instead of silently dropping one") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_hk_").toString)
    // ("a","b_c") and ("a_b","c") both flatten to task id "compact_a_b_c"
    wh.overwrite("a", "b_c", Seq((1, "x")).toDF("id", "v"))
    wh.overwrite("a_b", "c", Seq((1, "y")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](Housekeeping.runCompaction(spark, wh))
    assert(e.getMessage.contains("collide"))
  }

  test("orphan sweep workflow removes stale dirs after compaction") {
    val wh = whWithTables()
    Housekeeping.runCompaction(spark, wh)
    // drop old logs so v1-3 dirs of table a become orphans, then sweep now
    graft.maintenance.Maintenance.pruneMetadataLog(spark, wh, "s", "a", "1970-01")
    val r = Housekeeping.runOrphanSweep(spark, wh, retainMs = 0L)
    r.assertAllSuccess()
    assert(wh.dataDirs("s", "a").size === 1)
    assert(wh.read("s", "a").count() === 3)
  }

  test("completion report renders per-source and total rows") {
    val tasks = Seq(
      ("src_a", "staging", "t1", "success"), ("src_a", "staging", "t2", "failed"),
      ("src_b", "vault", "t1", "success")
    ).toDF("source_name", "schema_name", "task_id", "status")
    val html = ControlPlane.renderCompletionReport(ControlPlane.completionReport(tasks))
      .orderBy("source_name")
    val rows = html.select("html_row").as[String].collect()
    assert(rows.length === 3)
    assert(rows.exists(_.contains("<td>src_a</td>")))
    assert(rows.exists(_.contains("<td>TOTAL</td>")))
  }
}
