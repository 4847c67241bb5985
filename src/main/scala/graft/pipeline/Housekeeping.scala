package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.core.Warehouse
import graft.maintenance.Maintenance
import graft.workflow.Workflow
import graft.workflow.Workflow.{AllDone, TaskSpec}

/** The reference's three housekeeping DAGs as workflow graphs (SURVEY §3.3):
  *
  *   - data-file compaction, monthly `0 12 1 * *` (housekeeping__data_file):
  *     per-table optimize to 500 MB files.
  *   - metadata-file prune, monthly `0 12 L * *` (housekeeping__metadata_file)
  *     with the ran-compaction-this-month branch gate — skips to end when
  *     compaction hasn't produced current-month metadata.
  *   - unused-file sweep, daily `0 6 * * *` (housekeeping__unused_file):
  *     orphan data dirs older than the retention horizon.
  *
  * The reference fans each over 10-20 thread pools; here the per-table
  * tasks of these three graphs run concurrently, `defaultParallelism` at a
  * time (Workflow.run's `parallelism`): each task touches exactly one table,
  * and one small table's Spark jobs leave most cores idle. The graph gives
  * the same per-table isolation (one table's failure doesn't stop the rest —
  * `end` is all_done and the rollup raises afterwards).
  */
object Housekeeping {

  /** Cron schedules carried as metadata (the workflow runner is invoked by
    * an external scheduler; these document the reference's cadence). */
  val CompactionCron = "0 12 1 * *"
  val MetadataPruneCron = "0 12 L * *"
  val OrphanSweepCron = "0 6 * * *"

  val OrphanRetentionMs: Long = 30L * 24 * 3600 * 1000 // clean_data.py:52

  /** The shared housekeeping shape: start → one isolated task per table
    * (retries=1; one failure doesn't stop the rest) → all_done end. */
  private def perTableGraph(wh: Warehouse, taskPrefix: String)
                           (body: (String, String) => Unit): Seq[TaskSpec] = {
    val tables = wh.listTables().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val idFor = tables.map { case (s, t) => s"${taskPrefix}_${s}_$t" -> ((s, t)) }
    // schema/table names may themselves contain '_', so "prefix_a_b_c" is
    // ambiguous — a colliding task id would drop a table from the run
    requireUniqueIds(idFor.map(_._1), idFor.map(_._2.productIterator.mkString(".")))
    val ordered = idFor.sortBy(_._1)
    Seq(TaskSpec("start")) ++ ordered.map { case (id, (s, t)) =>
      TaskSpec(id, deps = Seq("start"), run = () => body(s, t), retries = 1)
    } ++ Seq(TaskSpec("end", deps = ordered.map(_._1), triggerRule = AllDone))
  }

  /** Fail loudly when two tables map to the same task id (underscore
    * ambiguity): a collision would silently drop one table from the run. */
  private def requireUniqueIds(ids: Seq[String], items: Seq[String]): Unit = {
    val dup = ids.zip(items).groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"housekeeping task ids collide (rename the tables): " +
        dup.map { case (id, xs) => s"$id <- [${xs.map(_._2).mkString(", ")}]" }
          .mkString("; "))
  }

  /** Monthly compaction run over every committed table. */
  def runCompaction(spark: SparkSession, wh: Warehouse,
                    targetBytes: Long = Maintenance.TargetFileBytes): Workflow.RunResult =
    Workflow.run(perTableGraph(wh, "compact") { (s, t) =>
      Maintenance.compact(spark, wh, s, t, targetBytes); ()
    }, parallelism = spark.sparkContext.defaultParallelism)

  /** Monthly metadata prune, gated on whether compaction ran this month
    * (reference clean_metadata.py:206-224 month-bucket existence check). */
  def runMetadataPrune(spark: SparkSession, wh: Warehouse, currentMonth: String,
                       compactionRanThisMonth: Boolean): Workflow.RunResult = {
    val work = perTableGraph(wh, "prune") { (s, t) =>
      Maintenance.pruneMetadataLog(spark, wh, s, t, currentMonth); ()
    }
    // the branch picks (or skips) `start`; a skip cascades through every
    // per-table task, and the all_done end still runs — the monthly gate
    val gated = Seq(TaskSpec("gate", branch = Some(() =>
      if (compactionRanThisMonth) Seq("start") else Seq.empty))) ++
      work.map(t => t.copy(deps = if (t.id == "start") Seq("gate") else t.deps))
    Workflow.run(gated, parallelism = spark.sparkContext.defaultParallelism)
  }

  /** Daily orphan sweep with the 30-day retention guard. */
  def runOrphanSweep(spark: SparkSession, wh: Warehouse,
                     retainMs: Long = OrphanRetentionMs): Workflow.RunResult =
    Workflow.run(perTableGraph(wh, "sweep") { (s, t) =>
      Maintenance.orphanSweep(spark, wh, s, t, retainMs); ()
    }, parallelism = spark.sparkContext.defaultParallelism)
}
