package graft.controlplane

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Warehouse

/** Control-plane transition semantics: calendar picking/closing, run
  * rollups with empty-set parity, resume gates, and the registry
  * add/delete/reused lifecycle; plus the one-partition contract (one Spark
  * job per action). */
class ControlPlaneSpec extends SparkSpec {
  import spark.implicits._

  private def calendar = Seq(
    ("2024-01-01", 0, "success"),
    ("2024-01-02", 1, null), // holiday — never picked
    ("2024-01-03", 0, null),
    ("2024-01-04", 0, null)
  ).toDF("etl_date", "holiday_flag", "status")

  test("nextEtlDate picks min open date; falls back to max when none open") {
    assert(ControlPlane.nextEtlDate(calendar).contains("2024-01-03"))
    val closed = calendar.withColumn("status", lit("success"))
    assert(ControlPlane.nextEtlDate(closed).contains("2024-01-04"))
  }

  test("setCurrentDate flips exactly one flag") {
    val out = ControlPlane.setCurrentDate(calendar, "2024-01-03")
    assert(out.filter(col("current_date_flag") === 1)
      .select("etl_date").as[String].collect().toSeq === Seq("2024-01-03"))
  }

  test("closeEtlDate closes only when every source's LATEST run succeeded") {
    val runs = Seq(
      ("2024-01-03", "src_a", "r1", 1L, "failed"),
      ("2024-01-03", "src_a", "r2", 2L, "success"), // retry succeeded
      ("2024-01-03", "src_b", "r3", 1L, "success")
    ).toDF("etl_date", "source_name", "run_id", "created_at", "status")
    val closed = ControlPlane.closeEtlDate(calendar, runs, "2024-01-03")
    assert(closed.filter(col("etl_date") === "2024-01-03")
      .select("status").as[String].head() === "success")
    // latest run failed → stays open
    val runsBad = runs.withColumn("status",
      when(col("run_id") === "r2", "failed").otherwise(col("status")))
    val open = ControlPlane.closeEtlDate(calendar, runsBad, "2024-01-03")
    assert(open.filter(col("etl_date") === "2024-01-03")
      .select("status").as[String].head() === null)
  }

  test("closeEtlDate keeps a date with ZERO runs open") {
    val noRuns = Seq.empty[(String, String, String, Long, String)]
      .toDF("etl_date", "source_name", "run_id", "created_at", "status")
    val out = ControlPlane.closeEtlDate(calendar, noRuns, "2024-01-03")
    assert(out.filter(col("etl_date") === "2024-01-03")
      .select("status").as[String].head() === null)
  }

  test("rollupRunStatus: all success/skipped → success; empty set → success (all([]) parity)") {
    val tasks = Seq(
      ("r1", "t1", "success"), ("r1", "t2", "skipped"),
      ("r2", "t1", "success"), ("r2", "t2", "failed")
    ).toDF("run_id", "task_id", "status")
    val roll = ControlPlane.rollupRunStatus(tasks).as[(String, String)].collect().toMap
    assert(roll("r1") === "success")
    assert(roll("r2") === "failed")
  }

  test("succeededTasks matches both bare and dag.group.task ids (P3 compound OR)") {
    val tasks = Seq(
      ("2024-01-03", "s", "staging.src.load_customers", "success"),
      ("2024-01-03", "s", "load_orders", "success"),
      ("2024-01-03", "s", "load_parts", "failed")
    ).toDF("etl_date", "source_name", "task_id", "status")
    val done = ControlPlane.succeededTasks(tasks, "2024-01-03", "s")
    assert(done === Set("load_customers", "load_orders"))
  }

  test("completionReport computes totals/success/failure in one pass") {
    val tasks = Seq(
      ("src_a", "staging", "t1", "success"),
      ("src_a", "staging", "t2", "failed"),
      ("src_a", "staging", "t2", "failed"), // duplicate row — countDistinct
      ("src_b", "vault", "t1", "success")
    ).toDF("source_name", "schema_name", "task_id", "status")
    val rep = ControlPlane.completionReport(tasks)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(rep(("src_a", "staging")) === ((2L, 1L, 1L)))
    assert(rep(("src_b", "vault")) === ((1L, 1L, 0L)))
  }

  /** The reference's formulation of the completion report: count(DISTINCT)
    * over task ids and over the successful ones (send_email.py:409-517). */
  private def completionReportByDistinct(tasks: DataFrame): DataFrame =
    tasks.groupBy(col("source_name"), col("schema_name"))
      .agg(
        countDistinct(col("task_id")).as("n_total"),
        countDistinct(when(col("status") === "success", col("task_id"))).as("n_success"),
        (countDistinct(col("task_id")) -
          countDistinct(when(col("status") === "success", col("task_id")))).as("n_failure"))

  test("completionReport equals the count(distinct) formulation on random task logs") {
    val statuses = Seq("success", "failed", "skipped", "upstream_failed", null)
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val drawn = Seq.fill(60)((
        Seq("src_a", "src_b", "src_c")(rnd.nextInt(3)),
        Seq("staging", "raw_vault")(rnd.nextInt(2)),
        if (rnd.nextInt(12) == 0) null else s"t${rnd.nextInt(8)}",
        statuses(rnd.nextInt(statuses.size))))
      // the edge cases every seed must hold: a duplicated row, a task with
      // both a success and a failed row, a null task_id, a null status
      val edges = Seq(
        ("src_a", "staging", "dup", "failed"), ("src_a", "staging", "dup", "failed"),
        ("src_b", "staging", "both", "success"), ("src_b", "staging", "both", "failed"),
        ("src_c", "raw_vault", null, "success"),
        ("src_c", "raw_vault", "no_status", null))
      val tasks = rnd.shuffle(drawn ++ edges)
        .toDF("source_name", "schema_name", "task_id", "status")
      def rows(df: DataFrame) =
        df.select("source_name", "schema_name", "n_total", "n_success", "n_failure")
          .as[(String, String, Long, Long, Long)].collect().sorted.toSeq
      val got = rows(ControlPlane.completionReport(tasks))
      assert(got === rows(completionReportByDistinct(tasks)), s"seed $seed")
      assert(got.exists(r => r._1 == "src_b" && r._2 == "staging" && r._4 >= 1))
    }
  }

  /** Spark jobs each action starts, by job group: listener events arrive
    * in order, so once a marker job is seen, every earlier job has been. */
  private def jobsPerAction(actions: Seq[(String, () => Unit)]): Map[String, Int] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      actions.foreach { case (name, body) =>
        sc.setJobGroup(name, name)
        body()
      }
      sc.setJobGroup("cp_marker", "marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("cp_marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("cp_marker"))
      actions.map { case (name, _) => name -> groups.asScala.count(_ == name) }.toMap
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every control-plane action over warehouse tables starts exactly one Spark job") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_cp_wh_").toString)
    val ts = Timestamp.valueOf("2024-01-01 10:00:00")
    // three appended versions of each registry table, several rows apiece
    for (d <- 1 to 3) {
      val date = s"2024-01-0$d"
      wh.append("op_metadata", "etl_dates",
        Seq((date, 0, if (d < 3) "success" else null), (s"2024-02-0$d", 1, null))
          .toDF("etl_date", "holiday_flag", "status"))
      wh.append("op_metadata", "task_log", (for {
        src <- Seq("s1", "s2", "s3"); task <- Seq("staging", "vault", "check")
      } yield (date, s"r_${src}_$d", src, if (task == "staging") "staging" else "raw_vault",
        s"10_01__${src}__$task", s"dag.$src.$task",
        if (src == "s2" && task == "vault") "failed" else "success", ts, ts))
        .toDF("etl_date", "run_id", "source_name", "schema_name", "dag_id", "task_id",
          "status", "start_time", "end_time"))
      wh.append("op_metadata", "run_log", Seq("s1", "s2", "s3").map(src =>
        (date, src, s"r_${src}_$d", d.toLong, if (src == "s2") "failed" else "success"))
        .toDF("etl_date", "source_name", "run_id", "created_at", "status"))
    }
    def table(t: String) = wh.read("op_metadata", t)
    val date = "2024-01-03"
    var out = Map.empty[String, Any]
    val jobs = jobsPerAction(Seq(
      "nextEtlDate" -> (() => out += "nextEtlDate" -> ControlPlane.nextEtlDate(table("etl_dates"))),
      "succeededTasks" -> (() => out += "succeededTasks" ->
        ControlPlane.succeededTasks(table("task_log"), date, "s1", "s2", "s3")),
      "closeEtlDate" -> (() =>
        ControlPlane.closeEtlDate(table("etl_dates"), table("run_log"), date)),
      "completionReport" -> (() => out += "completionReport" -> ControlPlane
        .renderCompletionReport(ControlPlane.completionReport(table("task_log"))).collect().length),
      "renderErrorSummary" -> (() => out += "renderErrorSummary" ->
        ControlPlane.renderErrorSummary(table("task_log")).collect().length),
      "renderRunDetail" -> (() => out += "renderRunDetail" ->
        ControlPlane.renderRunDetail(table("task_log"), table("run_log"), date).collect().length)))
    assert(jobs === jobs.map { case (k, _) => k -> 1 })
    // the actions answered over all three versions
    assert(out("nextEtlDate") === Some(date))
    assert(out("succeededTasks") === Set("staging", "vault", "check"))
    assert(out("completionReport") === 7) // (3 sources × 2 schemas) + totals
    assert(out("renderErrorSummary") === 3)
    assert(out("renderRunDetail") === 1)
  }

  private def registry = Seq(
    ("m1", 1, null.asInstanceOf[String], "2024-01-01"),
    ("m2", 1, null.asInstanceOf[String], "2024-01-01"),
    ("m3", 0, "2024-01-02", "2024-01-01") // previously retired
  ).toDF("model", "active_status", "retire_date", "load_date")

  test("drift report splits deleted/added sections for one run") {
    val drift = Seq(
      ("r1", "t1", "s1", "gone_col", "varchar", "D"),
      ("r1", "t1", "s1", "new_col", "bigint", "I"),
      ("r1", "t2", "s1", "id", "varchar", "I"),
      ("r2", "t1", "s1", "other_run", "varchar", "D"))
      .toDF("run_id", "table_name", "source_name", "column_name", "data_type", "status")
    val out = ControlPlane.renderDriftReport(drift, "r1").collect()
    assert(out.length === 3)
    // deleted section renders first (reference email layout)
    assert(out.map(_.getString(0)).toSeq === Seq("deleted", "added", "added"))
    assert(out.exists(_.getAs[String]("html_row").contains("<td>new_col</td>")))
  }

  test("error summary lists only non-success, non-skipped tasks") {
    val tasks = Seq(
      ("s1", "stage", "success"), ("s1", "vault", "failed"),
      ("s2", "stage", "skipped"), ("s2", "vault", "upstream_failed"))
      .toDF("source_name", "task_id", "status")
    val out = ControlPlane.renderErrorSummary(tasks).collect()
    assert(out.map(r => (r.getString(0), r.getString(2))).toSeq ===
      Seq(("s1", "failed"), ("s2", "upstream_failed")))
  }

  test("run detail: latest run per source, failed tasks, ICT shift, dag type") {
    val runLog = Seq(
      ("2024-01-01", "s1", "old_run", 1L), ("2024-01-01", "s1", "new_run", 2L))
      .toDF("etl_date", "source_name", "run_id", "created_at")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val tasks = Seq(
      ("new_run", "s1", "10_01__s1__staging", "load", "failed", ts, ts),
      ("new_run", "s1", "10_01__s1__staging", "typed", "success", ts, ts),
      ("old_run", "s1", "10_01__s1__staging", "stale", "failed", ts, ts))
      .toDF("run_id", "source_name", "dag_id", "task_id", "status",
        "start_time", "end_time")
    val out = ControlPlane.renderRunDetail(tasks, runLog, "2024-01-01").collect()
    assert(out.length === 1) // only the latest run's failed task
    val r = out.head
    assert(r.getAs[String]("task_id") === "load")
    assert(r.getAs[String]("dag_type") === "staging")
    assert(r.getAs[String]("start_ict") === "2024-01-01 17:00:00") // +7h
  }

  test("syncRegistry: add new, retire missing, reactivate returning") {
    val incoming = Seq("m1", "m3", "m4").toDF("model")
    val (merged, changes) = ControlPlane.syncRegistry(
      registry, incoming, Seq("model"), lit("2024-01-05"))
    val byModel = merged.select("model", "active_status", "retire_date")
      .as[(String, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byModel("m1") === ((1, null)))       // unchanged
    assert(byModel("m2") === ((0, "2024-01-05"))) // retired
    assert(byModel("m3") === ((1, null)))       // reactivated
    assert(byModel("m4") === ((1, null)))       // added
    val ch = changes.as[(String, String)].collect().toSet
    assert(ch === Set(("m4", "add"), ("m2", "delete"), ("m3", "reused")))
  }

  test("reconcileCounts: per-source layer counts with both mismatch modes") {
    val src = Seq(1, 2, 3, 4).toDF("k")
    val stgShort = Seq(1, 2, 3).toDF("k")          // short staging
    val missing = Seq(9).toDF("k")                 // a key absent from hub
    val empty = Seq.empty[Int].toDF("k")
    val out = ControlPlane.reconcileCounts(Seq(
      ("a", "source", src), ("a", "staging", stgShort), ("a", "vault_missing", empty),
      ("b", "source", src), ("b", "staging", src), ("b", "vault_missing", missing),
      ("c", "source", src), ("c", "staging", src), ("c", "vault_missing", empty)))
      .orderBy("source_name")
      .as[(String, Long, Long, Long, String)].collect()
    assert(out === Array(
      ("a", 4L, 3L, 0L, "mismatch"),   // staging short
      ("b", 4L, 4L, 1L, "mismatch"),   // hub incomplete
      ("c", 4L, 4L, 0L, "match")))
  }

  /** The five-branch syncRegistry the one-pass version replaced (J2
    * registerNew, the delete and reused change rows, J3 retireMissing and
    * J4 reactivate over a J6 keyed update), kept as the parity reference. */
  private def syncByBranches(registry: DataFrame, incoming: DataFrame, keys: Seq[String],
                             loadDate: Column): (DataFrame, DataFrame) = {
    val keyCols = keys.map(col)
    def updateWhereIn(target: DataFrame, keyRows: DataFrame,
                      assignments: Map[String, Column]): DataFrame = {
      val marked = target.join(
        broadcast(keyRows.select(keyCols: _*).distinct().withColumn("__hit", lit(1))),
        keys, "left")
      assignments.foldLeft(marked) { case (df, (c, v)) =>
        df.withColumn(c, when(col("__hit") === 1, v).otherwise(col(c)))
      }.drop("__hit").select(target.columns.map(col): _*)
    }
    val fresh = incoming.join(registry, keys, "left_anti")
      .withColumn("active_status", lit(1))
      .withColumn("retire_date", lit(null).cast("string"))
      .withColumn("load_date", loadDate)
    val gone = registry.filter(col("active_status") === 1).select(keyCols: _*)
      .join(incoming, keys, "left_anti")
    val retired = updateWhereIn(registry, gone,
      Map("active_status" -> lit(0), "retire_date" -> loadDate))
    val back = retired.filter(col("active_status") === 0).select(keyCols: _*)
      .join(incoming, keys, "left_semi")
    val updated = updateWhereIn(retired, back,
      Map("active_status" -> lit(1), "retire_date" -> lit(null).cast("string")))
    val adds = fresh.select(keyCols: _*).withColumn("change_type", lit("add"))
    val goneKeys = gone.withColumn("change_type", lit("delete"))
    val backKeys = registry.filter(col("active_status") === 0).select(keyCols: _*)
      .join(incoming, keys, "left_semi").withColumn("change_type", lit("reused"))
    (updated.unionByName(fresh.select(updated.columns.map(col): _*)),
      adds.unionByName(goneKeys).unionByName(backKeys))
  }

  private def bag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("syncRegistry equals the five-branch formulation on random registries") {
    val keys = Seq("model", "kind")
    val seen = scala.collection.mutable.Set.empty[String]
    (1 to 5).foreach { seed =>
      val rnd = new Random(seed)
      val pool = (0 until 12).map(i => (s"m$i", if (i % 3 == 0) "link" else "hub"))
      // active and retired keys, some registered twice (mixed statuses too)
      val registry = pool.filter(_ => rnd.nextInt(4) != 0).flatMap { case (m, k) =>
        (0 until (if (rnd.nextInt(4) == 0) 2 else 1)).map { c =>
          val active = rnd.nextInt(2)
          (m, k, s"r$c", active, if (active == 0) "2024-01-02" else null, "2024-01-01")
        }
      }.toDF("model", "kind", "note", "active_status", "retire_date", "load_date")
      // returning, still-present and new keys, some arriving twice
      val incoming = pool.filter(_ => rnd.nextInt(2) == 0).flatMap { case (m, k) =>
        (0 until (if (rnd.nextInt(4) == 0) 2 else 1)).map(c => (m, k, s"i$c"))
      }.toDF("model", "kind", "note")
      val (merged, changes) = ControlPlane.syncRegistry(registry, incoming, keys, lit("2024-01-05"))
      val (refMerged, refChanges) = syncByBranches(registry, incoming, keys, lit("2024-01-05"))
      assert(bag(merged) === bag(refMerged), s"seed $seed registry")
      assert(bag(changes) === bag(refChanges), s"seed $seed change log")
      seen ++= changes.select("change_type").as[String].collect()
    }
    assert(seen === Set("add", "delete", "reused"))
  }

  test("three chained syncs read the first registry once and match the reference step by step") {
    def local(df: DataFrame) = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val keys = Seq("model")
    var chained = registry
    var reference = registry
    Seq(Seq("m1", "m3", "m4"), Seq("m1", "m2"), Seq("m2", "m3", "m4", "m5")).zipWithIndex
      .foreach { case (models, day) =>
        val incoming = models.toDF("model")
        val date = lit(s"2024-01-0${day + 5}")
        val (next, changes) = ControlPlane.syncRegistry(chained, incoming, keys, date)
        val (refNext, refChanges) = syncByBranches(reference, incoming, keys, date)
        assert(bag(changes) === bag(refChanges), s"sync ${day + 1} change log")
        chained = next
        reference = local(refNext)
      }
    // the starting registry and the three incoming frames, one scan each
    assert(chained.queryExecution.analyzed.collectLeaves().size === 4)
    assert(bag(chained) === bag(reference))
  }

  test("syncRegistry is idempotent on a second identical sync") {
    val incoming = Seq("m1", "m3", "m4").toDF("model")
    val (merged, _) = ControlPlane.syncRegistry(
      registry, incoming, Seq("model"), lit("2024-01-05"))
    val (again, changes2) = ControlPlane.syncRegistry(
      merged, incoming, Seq("model"), lit("2024-01-06"))
    assert(again.exceptAll(merged).isEmpty && merged.exceptAll(again).isEmpty)
    assert(changes2.isEmpty)
  }
}
