package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.controlplane.ControlPlane
import graft.core.Warehouse
import graft.ops.Relational
import graft.vault.{SchemaDrift, Vault}
import graft.workflow.Workflow
import graft.workflow.Workflow.{AllDone, TaskSpec}

/** The daily ETL run — the reference's root pipeline (SURVEY §3.1) executed
  * by the deterministic workflow runner over the shared SparkSession:
  *
  *   pick etl_date → per source: staging (typing + metadata cols + schema
  *   drift gate) → raw vault (hub and link rows of keys not seen before
  *   appended, the satellite re-versioned — the [[Vault]] loaders) → end
  *   rollup (all_done) → close the date when every source's latest run
  *   succeeded.
  *
  * Every dbt-pod of the reference becomes an in-process Spark job; every
  * embedded Trino SQL is one of the ControlPlane/Vault transforms. Re-runs
  * are resume-skipped per task (check_conditions semantics), and drift
  * routes to a notification row instead of failing the run — exactly the
  * reference's branch (dag_etlpipeline__staging.py:125-130).
  *
  * The task graph runs sequentially: every source's tasks append to the
  * shared `check.*` tables. Inside one vault task the hub, satellite and
  * link loads run concurrently ([[vaultSource]]). A re-run of a day is
  * safe: re-sighted hub and link keys keep their first load_date, and a
  * replayed satellite load adds no version.
  *
  * Schemas: op metadata in `op_metadata`, staged sources in `staging`,
  * vault entities in `raw_vault`, drift + notifications in `check`.
  */
class DailyPipeline(spark: SparkSession, wh: Warehouse) {
  import spark.implicits._

  /** One source system: how to load it, its keys, and its satellite attrs. */
  case class SourceSpec(
      name: String,
      load: () => DataFrame,
      businessKeys: Seq[String],
      attrs: Seq[String],
      linkTo: Option[(String, Seq[String])] = None) // (other hub, its keys)

  /** Stage one source: metadata columns + drift detection against the
    * previously registered staging schema. Returns true when drift found. */
  private[pipeline] def stageSource(src: SourceSpec, etlDate: String): Boolean = {
    val incoming = src.load()
      .withColumn("etl_date", lit(etlDate))
      .withColumn("record_source", lit(src.name))
    val drifted =
      if (wh.exists("staging", src.name)) {
        val registered = wh.read("staging", src.name).schema
        val rows = SchemaDrift.diff(registered, incoming.schema, src.name)
        if (rows.nonEmpty) {
          wh.append("check", "schemadrift_tablechangedetail",
            rows.toDF().withColumn("etl_date", lit(etlDate)))
          // table-level summary (reference schemadrift_tablechange,
          // send_email.py:43-56); is_updated=1 — the overwrite below
          // applies the new schema in the same run
          wh.append("check", "schemadrift_tablechange",
            Seq((etlDate, src.name, src.name, 1))
              .toDF("etl_date", "table_name", "source_name", "is_updated"))
          true
        } else false
      } else false
    wh.overwrite("staging", src.name, incoming)
    drifted
  }

  /** Load the vault entities of one staged source through the Vault
    * loaders: hub and link insert-only, satellite re-versioned. The three
    * loads run concurrently: all read the same staged frame and each writes
    * its own table. A failed load is rethrown only once the others have
    * finished, so the task's retry never overlaps them. */
  private[pipeline] def vaultSource(src: SourceSpec, etlDate: String): Unit = {
    val staged = wh.read("staging", src.name)
    val hub = () => Vault.loadNewKeys(wh, s"hub_${src.name}",
      Vault.hub(staged, src.name, src.businessKeys, lit(etlDate), src.name))
    val sat = () => Vault.loadSatellite(wh, staged, src.name, src.businessKeys,
      src.attrs, lit(etlDate))
    val link = src.linkTo.map { case (other, otherKeys) =>
      () => Vault.loadNewKeys(wh, s"link_${src.name}_$other",
        Vault.link(staged, s"${src.name}_$other",
          Seq(src.name -> src.businessKeys, other -> otherKeys), lit(etlDate), src.name))
    }
    Workflow.fanOut(spark.sparkContext.defaultParallelism)(Seq(hub, sat) ++ link)
  }

  /** The root DAG's record-count reconciliation (`check_records`,
    * dag_etlpipeline__root.py:16,55-60): re-count the source, the staged
    * table, and the staged-keys-missing-from-hub anti-join per source, and
    * persist the report to `check.record_count`. Returns the mismatched
    * source names, taken from the same collected rows that are stored, so
    * the report is evaluated once. Missing staging/hub tables (e.g. an
    * upstream task died — the task runs under all_done) count as fully
    * short, not as errors. */
  private[pipeline] def checkRecords(sources: Seq[SourceSpec], etlDate: String): Seq[String] = {
    val layers = sources.flatMap { s =>
      val keyCols = s.businessKeys.map(col)
      val source = s.load()
      val staged =
        if (wh.exists("staging", s.name)) wh.read("staging", s.name)
        else source.limit(0)
      val stagedKeys = staged.select(keyCols: _*).distinct()
      val hubKeys =
        if (wh.exists("raw_vault", s"hub_${s.name}"))
          wh.read("raw_vault", s"hub_${s.name}").select(keyCols: _*)
        else staged.select(keyCols: _*).limit(0)
      Seq(
        (s.name, "source", source),
        (s.name, "staging", staged),
        (s.name, "vault_missing", Relational.antiJoin(stagedKeys, hubKeys, s.businessKeys)))
    }
    val report = ControlPlane.reconcileCounts(layers)
    val rows = report.collect()
    wh.append("check", "record_count", ControlPlane.registry(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), report.schema).withColumn("etl_date", lit(etlDate))))
    rows.collect { case r if r.getAs[String]("status") == "mismatch" =>
      r.getAs[String]("source_name") }.toSeq
  }

  /** Run the full daily pipeline for the next open date. Returns the
    * executed date and the task results.
    *
    * `etl_dates` is written once per run, at its end: the closing write
    * also moves `current_date_flag` to the run's date. Nothing reads the
    * flag during a run, so a run that dies mid-day leaves it on the last
    * completed run; [[ControlPlane.nextEtlDate]] picks by `status`, so
    * the resume is unaffected. */
  def run(sources: Seq[SourceSpec]): (String, Workflow.RunResult) = {
    val calendar = wh.read("op_metadata", "etl_dates")
    val etlDate = ControlPlane.nextEtlDate(calendar)
      .getOrElse(throw new IllegalStateException("empty calendar"))

    // the resume gate: one collect for every source, none before day 1
    val done =
      if (!wh.exists("op_metadata", "task_log")) Set.empty[String]
      else ControlPlane.succeededTasks(wh.read("op_metadata", "task_log"), etlDate,
        sources.map(_.name): _*)

    val drift = scala.collection.mutable.Map.empty[String, Boolean]
    val shortSources = scala.collection.mutable.Set.empty[String]
    val tasks = Seq(TaskSpec("start")) ++ sources.flatMap { s =>
      Seq(
        TaskSpec(s"staging_${s.name}", deps = Seq("start"),
          run = () => { drift(s.name) = stageSource(s, etlDate) }, retries = 1),
        TaskSpec(s"drift_check_${s.name}", deps = Seq(s"staging_${s.name}"),
          branch = Some(() =>
            if (drift.getOrElse(s.name, false)) Seq(s"notify_drift_${s.name}") else Seq.empty)),
        TaskSpec(s"notify_drift_${s.name}", deps = Seq(s"drift_check_${s.name}"),
          run = () => wh.append("check", "email_notification",
            Seq((etlDate, s.name, "schema_drift")).toDF("etl_date", "source_name", "template"))),
        TaskSpec(s"vault_${s.name}", deps = Seq(s"staging_${s.name}"),
          run = () => vaultSource(s, etlDate), retries = 1))
    } ++ Seq(
      // the reference's `check_records` root task: runs under all_done
      // after every vault build, right before `end`
      // (dag_etlpipeline__root.py:55-60 — `test` in the root graph)
      TaskSpec("check_records",
        deps = sources.map(s => s"vault_${s.name}"),
        triggerRule = AllDone,
        run = () => {
          val bad = checkRecords(sources, etlDate)
          shortSources ++= bad
          if (bad.nonEmpty)
            throw new IllegalStateException(
              s"record count mismatch: ${bad.mkString(", ")}")
        }),
      TaskSpec("end",
        deps = Seq("check_records") ++
          sources.map(s => s"notify_drift_${s.name}"),
        triggerRule = AllDone))

    val result = Workflow.run(tasks, resumeDone = done)

    // explicit task → source map built at construction time (suffix
    // matching would misattribute when one source name suffixes another)
    val taskOwner: Map[String, String] = sources.flatMap { s =>
      Seq(s"staging_${s.name}", s"drift_check_${s.name}",
        s"notify_drift_${s.name}", s"vault_${s.name}").map(_ -> s.name)
    }.toMap
    // persist task statuses (the status_etlpipeline_task_airflow table);
    // these locally built rows, like the run rows below, are written by one
    // task as one file
    val taskRows = ControlPlane.registry(result.runs.map(r =>
      (etlDate, taskOwner.getOrElse(r.taskId, "pipeline"), r.taskId, r.status))
      .toDF("etl_date", "source_name", "task_id", "status"))
    wh.append("op_metadata", "task_log", taskRows)
    // failed runs also persist the rendered error-summary report rows
    // (send_email.py:654-667 — the email body's source of truth); the run
    // result already says whether any task failed, so the gate starts no job
    if (!result.allSuccess)
      wh.append("check", "error_report",
        ControlPlane.renderErrorSummary(taskRows).withColumn("etl_date", lit(etlDate)))
    // roll up to run rows and close the date when all sources succeeded.
    // run_id is a fresh uuid and created_at a real timestamp: re-runs of a
    // failed date must produce a strictly NEWER run row, or the
    // latest-run-per-source dedup in closeEtlDate could pick the old one.
    val now = System.currentTimeMillis()
    val runRows = ControlPlane.registry(sources.map { s =>
      val srcTasks = result.runs.filter(r => taskOwner.get(r.taskId).contains(s.name))
      // a record-count mismatch fails the owning source's run even though
      // check_records itself is a pipeline-level task — the reconciliation
      // report is per source, so only short sources fail, not the whole run
      val ok = srcTasks.forall(r => r.status == "success" || r.status == "skipped") &&
        !shortSources.contains(s.name)
      (etlDate, s.name, java.util.UUID.randomUUID().toString, now,
        if (ok) "success" else "failed")
    }.toDF("etl_date", "source_name", "run_id", "created_at", "status"))
    wh.append("op_metadata", "run_log", runRows)
    wh.overwrite("op_metadata", "etl_dates",
      ControlPlane.closeEtlDate(ControlPlane.setCurrentDate(calendar, etlDate),
        wh.read("op_metadata", "run_log"), etlDate))
    (etlDate, result)
  }
}
