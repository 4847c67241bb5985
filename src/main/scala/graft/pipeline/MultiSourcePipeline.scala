package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.controlplane.ControlPlane
import graft.core.Warehouse
import graft.vault.Vault
import graft.workflow.Workflow
import graft.workflow.Workflow.{AllDone, RunResult, TaskSpec}

/** The reference's multi-source vault shape (SURVEY §3;
  * dag_etlpipeline_multi_source__datavault.py:16-37,66-110): N source
  * systems — 19 in the reference — run the SAME tagged vault build
  * (`tag:multi_sources`) into SHARED entities, each with its own prefix and
  * data-source name, fanned out from a root graph.
  *
  * Sub-workflow semantics (C4): the root graph does not inline the work —
  * per source it TRIGGERS a staging sub-workflow and a vault sub-workflow
  * (TriggerDagRunOperator with wait_for_completion=True and
  * allowed_states=['success'], reference dag_etlpipeline__root.py:62-68,
  * 98-114), each a real nested Workflow.run with its own task statuses.
  *
  * Run registration (etl_manager.fetch_run_id:277-296): a run TRIGGERED by
  * the root ('master_dag'/'group' conf) reuses the root-assigned run_id; a
  * MANUALLY-started sub-pipeline mints a fresh uuid and registers its own
  * run row, created_by = the dag type that started it.
  *
  * Shared entities: the hub holds one row per business key, whichever
  * sources carry it, with the record_source of the first source that
  * loaded it; the satellite versions every source's rows per hash key.
  * The vault sub-workflows run one after another (they write the same
  * tables), each through the [[Vault]] loaders.
  *
  * Scale: each source's staging is an independent Spark job chain — on a
  * cluster the 19 chains are embarrassingly parallel (scheduler pools);
  * the shared-entity loads key on uniform md5 hash keys, so 19 writers'
  * rows coexist without skew.
  */
class MultiSourcePipeline(spark: SparkSession, wh: Warehouse) {
  import spark.implicits._

  /** One source feeding the shared entity: `prefix` namespaces its staging
    * table (reference prefix_sources), `dataSource` is the upstream system
    * name recorded as record_source. */
  case class MultiSource(
      name: String,
      dataSource: String,
      prefix: String,
      load: () => DataFrame,
      businessKeys: Seq[String],
      attrs: Seq[String],
      waitTimeMs: Long = 0L) // TimeSensor stagger offset (C8)

  /** fetch_run_id: triggered runs reuse the orchestrator-assigned id and
    * register nothing; manual runs mint a fresh uuid AND insert their own
    * run row tagged with the dag type that created it. */
  private[pipeline] def fetchRunId(source: String, dagType: String, etlDate: String,
                                   assigned: Map[String, String],
                                   triggeredBy: Option[String]): String =
    triggeredBy match {
      case Some("master_dag") | Some("group") => assigned(source)
      case _ =>
        val runId = java.util.UUID.randomUUID().toString
        wh.append("op_metadata", "multi_run_log", ControlPlane.registry(
          Seq((etlDate, source, runId, dagType, "running"))
            .toDF("etl_date", "source_name", "run_id", "created_by", "status")))
        runId
    }

  /** Staging sub-workflow for one source: load → metadata columns →
    * write staging.{prefix}{name}. */
  private[pipeline] def stagingGraph(src: MultiSource, etlDate: String,
                                     runId: String): Seq[TaskSpec] = Seq(
    TaskSpec(s"stage_${src.name}", run = () => {
      val incoming = src.load()
        .withColumn("etl_date", lit(etlDate))
        .withColumn("record_source", lit(src.dataSource))
        .withColumn("run_id", lit(runId))
      wh.overwrite("staging", s"${src.prefix}${src.name}", incoming)
    }, retries = 2, retryDelayMs = 0L))

  /** Vault sub-workflow for one source: the SHARED `tag:multi_sources`
    * build through the [[Vault]] loaders — the shared hub gains only
    * business keys no earlier source sighted (its record_source names the
    * first source), the shared satellite is re-versioned with this
    * source's rows. */
  private[pipeline] def vaultGraph(entity: String, src: MultiSource,
                                   etlDate: String): Seq[TaskSpec] = Seq(
    TaskSpec(s"vault_${src.name}", run = () => {
      val staged = wh.read("staging", s"${src.prefix}${src.name}")
      Vault.loadNewKeys(wh, s"hub_$entity",
        Vault.hub(staged, entity, src.businessKeys, lit(etlDate), src.dataSource))
      Vault.loadSatellite(wh, staged, entity, src.businessKeys, src.attrs, lit(etlDate))
    }, retries = 2))

  /** The root graph over all sources. Returns (root result, child results
    * by trigger-task id). Child runs carry conf triggered_by='group', so
    * they reuse the root-assigned run ids. */
  def run(entity: String, sources: Seq[MultiSource], etlDate: String,
          runTimeoutMs: Option[Long] = None,
          clock: () => Long = () => System.currentTimeMillis()):
      (RunResult, Map[String, RunResult]) = {
    require(sources.map(_.name).distinct.size == sources.size, "duplicate source names")
    val runStartMs = clock()
    val assigned: Map[String, String] =
      sources.map(s => s.name -> java.util.UUID.randomUUID().toString).toMap
    val childResults = mutable.Map.empty[String, RunResult]

    val start = TaskSpec("start", run = () =>
      // the root registers every triggered source's run row up front
      // (insert_into_info_by_sources, dag_etlpipeline__root.py:90-97)
      wh.append("op_metadata", "multi_run_log", ControlPlane.registry(
        sources.map(s => (etlDate, s.name, assigned(s.name), "root", "running"))
          .toDF("etl_date", "source_name", "run_id", "created_by", "status"))),
      retries = 5, retryDelayMs = 0L)

    val groups = sources.flatMap { s =>
      val runId = fetchRunId(s.name, "root", etlDate, assigned, Some("master_dag"))
      Seq(
        // per-source stagger (reference wait_time minutes): spreads the 19
        // source chains' cluster load; a virtual clock keeps tests instant
        Workflow.timeSensor(s"wait_time_${s.name}", deps = Seq("start"),
          targetMs = runStartMs + s.waitTimeMs, clock = clock),
        Workflow.triggerTask(s"trigger_staging_${s.name}",
          deps = Seq(s"wait_time_${s.name}"),
          child = () => Workflow.run(stagingGraph(s, etlDate, runId)),
          childResults = childResults, retries = 1),
        Workflow.triggerTask(s"trigger_vault_${s.name}",
          deps = Seq(s"trigger_staging_${s.name}"),
          child = () => Workflow.run(vaultGraph(entity, s, etlDate)),
          childResults = childResults, retries = 1),
        TaskSpec(s"end_${s.name}",
          deps = Seq(s"trigger_staging_${s.name}", s"trigger_vault_${s.name}"),
          triggerRule = AllDone))
    }

    val end = TaskSpec("end", deps = sources.map(s => s"end_${s.name}"),
      triggerRule = AllDone, run = () => {
        // per-source terminal status rollup (task_end)
        val rows = sources.map { s =>
          val ok = Seq(s"trigger_staging_${s.name}", s"trigger_vault_${s.name}")
            .forall(id => childResults.get(id).exists(_.allSuccess))
          (etlDate, s.name, assigned(s.name), "root", if (ok) "success" else "failed")
        }
        wh.append("op_metadata", "multi_run_log", ControlPlane.registry(
          rows.toDF("etl_date", "source_name", "run_id", "created_by", "status")))
      })

    val result = Workflow.run(Seq(start) ++ groups :+ end, runTimeoutMs = runTimeoutMs)
    (result, childResults.toMap)
  }

  /** A manually-started vault sub-pipeline for one source — no root conf,
    * so it mints and registers its OWN run row (triggered_by absent →
    * fetch_run_id's else-branch, reference __staging.py:74). */
  def runVaultManually(entity: String, src: MultiSource, etlDate: String): RunResult = {
    fetchRunId(src.name, "datavault", etlDate, Map.empty, triggeredBy = None)
    Workflow.run(vaultGraph(entity, src, etlDate))
  }
}
