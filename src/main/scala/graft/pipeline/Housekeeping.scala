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
  * `end` is all_done and the rollup raises afterwards). The ANN graph below
  * stays sequential: every ANN task appends to the shared `ann_gate_log`.
  */
object Housekeeping {

  /** Cron schedules carried as metadata (the workflow runner is invoked by
    * an external scheduler; these document the reference's cadence). */
  val CompactionCron = "0 12 1 * *"
  val MetadataPruneCron = "0 12 L * *"
  val OrphanSweepCron = "0 6 * * *"

  val OrphanRetentionMs: Long = 30L * 24 * 3600 * 1000 // clean_data.py:52

  /** The shared housekeeping shape: start → one isolated task per item
    * (retries=1; one failure doesn't stop the rest) → all_done end. */
  private def fanOutGraph(ids: Seq[String])(body: String => Unit): Seq[TaskSpec] =
    Seq(TaskSpec("start")) ++ ids.map { id =>
      TaskSpec(id, deps = Seq("start"), run = () => body(id), retries = 1)
    } ++ Seq(TaskSpec("end", deps = ids, triggerRule = AllDone))

  private def perTableGraph(wh: Warehouse, taskPrefix: String)
                           (body: (String, String) => Unit): Seq[TaskSpec] = {
    val tables = wh.listTables().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val idFor = tables.map { case (s, t) => s"${taskPrefix}_${s}_$t" -> ((s, t)) }
    // schema/table names may themselves contain '_', so "prefix_a_b_c" is
    // ambiguous — a silent .toMap collision would drop a table from the run
    requireUniqueIds(idFor.map(_._1), idFor.map(_._2.productIterator.mkString(".")))
    val byId = idFor.toMap
    fanOutGraph(byId.keys.toSeq.sorted) { id =>
      val (s, t) = byId(id); body(s, t)
    }
  }

  /** Fail loudly when two fan-out items map to the same task id (underscore
    * ambiguity): a collision would silently drop one item from the run. */
  private def requireUniqueIds(ids: Seq[String], items: Seq[String]): Unit = {
    val dup = ids.zip(items).groupBy(_._1).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"housekeeping task ids collide (rename the tables or indexes): " +
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

  /** One serving ANN index under maintenance: where it lives, its
    * source-of-truth corpus table, and the gate's operating point.
    * `kind` picks the store: "ivf" (centroids + quantized lists),
    * "ivfpq" (composed coarse + per-subspace codebooks — m/dim/pqK/
    * pqIters apply to it alone), or "ivfsq8" (coarse + frozen per-dim
    * bounds + byte codes). */
  case class AnnGateSpec(schema: String, name: String,
                         corpusSchema: String, corpusTable: String,
                         k: Int, probes: Int = 2, minRecallE4: Long = 9000L,
                         targetListSize: Long = 10000L, kmeansIters: Int = 5,
                         nQueries: Int = 100,
                         idCol: String = "vec_id", embCol: String = "embedding",
                         kind: String = "ivf",
                         m: Int = 4, dim: Int = 64, pqK: Int = 8,
                         pqIters: Int = 2,
                         distortionPregate: Boolean = false,
                         maxDistortionSkewE4: Long = 30000L) {
    require(kind == "ivf" || kind == "ivfpq" || kind == "ivfsq8",
      s"unknown ANN index kind '$kind' (ivf | ivfpq | ivfsq8)")
    require(!distortionPregate || kind == "ivfpq" || kind == "ivfsq8",
      "the distortion pre-gate reads a code layer — only the quantized " +
        "store kinds (ivfpq | ivfsq8) have one")
  }

  /** Where [[runAnnMaintenance]] appends its per-index gate reports. */
  val AnnGateLogSchema = "maintenance"
  val AnnGateLogTable = "ann_gate_log"

  /** ANN-store lifecycle maintenance — the job that closes the loop the
    * monitors open (AnnIndex.stats occupancy, Similarity.centroidDrift,
    * ivfRecallCurve): for each configured index, measure the STORED
    * index's recall@k against the exact ranking over its corpus table,
    * and when drifted appends have pushed it below the threshold,
    * re-learn the coarse quantizer and swap the rebuild in via the
    * Warehouse version pointer ([[graft.operators.AnnIndex.recallGate]]).
    * Healthy indexes are probed and left alone. Every decision — measured
    * recall before/after, whether a rebuild ran, the version swap — is
    * appended to `maintenance.ann_gate_log`, so "why did serving recall
    * change overnight" is a table scan, not an archaeology dig. Same
    * per-item isolation contract as the other housekeeping graphs. */
  def runAnnMaintenance(spark: SparkSession, wh: Warehouse,
                        gates: Seq[AnnGateSpec]): Workflow.RunResult = {
    val idFor = gates.map(g => s"anngate_${g.schema}_${g.name}" -> g)
    requireUniqueIds(idFor.map(_._1), gates.map(g => s"${g.schema}.${g.name}"))
    val byId = idFor.toMap
    Workflow.run(fanOutGraph(idFor.map(_._1)) { id =>
      val g = byId(id)
      val corpus = wh.read(g.corpusSchema, g.corpusTable)
      // Distortion pre-gate (the q172/q174 monitors wired into the loop):
      // one code-layer scan — NO exact side — decides whether the
      // expensive recall gate runs at all. Skew = max/avg across
      // dims/subspaces of the audit's tail statistic; a heavy-tailed
      // append spikes exactly one dim (SQ8: a value one (lo, hi) pair
      // can't quantize) or one subspace (PQ: a slice the frozen 8 entries
      // under-cover vs the STORED codebooks), a nominal append leaves the
      // profile flat. Nominal → the gate is a no-op this run (logged as
      // pregate-skip, stores untouched); tripped → the full recall gate
      // runs as before. The pre-gate is a TAIL detector: uniform drift
      // is the scheduled full gate's job — run one un-pregated sweep on
      // a slower cadence.
      val skew: Long =
        if (!g.distortionPregate) -1L
        else distortionSkewE4(wh, g, corpus)
      val (report, path) =
        if (g.distortionPregate && skew <= g.maxDistortionSkewE4) {
          val centTable = graft.operators.AnnIndex.centroidsTable(g.name)
          val v = wh.currentVersion(g.schema, centTable)
          (graft.operators.AnnIndex.RecallGateReport(
            g.schema, g.name, nQueries = 0L,
            recallBeforeE4 = -1L, minRecallE4 = g.minRecallE4,
            rebuilt = false, recallAfterE4 = -1L,
            nListsAfter = wh.read(g.schema, centTable).count(),
            centroidsVersionBefore = v, centroidsVersionAfter = v),
            "pregate-skip")
        } else (g.kind match {
          case "ivfpq" => graft.operators.AnnIndex.recallGateIvfPq(
            wh, g.schema, g.name, corpus, g.k, g.probes, g.m, g.dim, g.pqK,
            g.minRecallE4, g.targetListSize, g.kmeansIters, g.pqIters,
            g.nQueries, g.idCol, g.embCol)
          case "ivfsq8" => graft.operators.AnnIndex.recallGateSq8(
            wh, g.schema, g.name, corpus, g.k, g.probes, g.minRecallE4,
            g.targetListSize, g.kmeansIters, g.nQueries, g.idCol, g.embCol)
          case _ => graft.operators.AnnIndex.recallGate(
            wh, g.schema, g.name, corpus,
            g.k, g.probes, g.minRecallE4, g.targetListSize, g.kmeansIters,
            g.nQueries, g.idCol, g.embCol)
        }, "recall-gate")
      import spark.implicits._
      wh.append(AnnGateLogSchema, AnnGateLogTable,
        Seq(report).toDF()
          .withColumn("gatePath", org.apache.spark.sql.functions.lit(path))
          .withColumn("distortionSkewE4",
            org.apache.spark.sql.functions.lit(skew))); ()
    })
  }

  /** The pre-gate's one-scan tail statistic: max/avg (e4) across
    * dims/subspaces of the quantizer audit's worst-case column — SQ8's
    * per-dim max reconstruction error (q172's audit: fresh bounds on the
    * CURRENT corpus, so a new outlier stretches its dim's range and
    * max_err with it), PQ's per-subspace sum of squared errors vs the
    * STORED frozen codebooks (q174's audit pointed at the serving model,
    * so appends that leave the codebook cells raise it). */
  private def distortionSkewE4(wh: Warehouse, g: AnnGateSpec,
                               corpus: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val perUnit = g.kind match {
      case "ivfsq8" =>
        graft.operators.Similarity.sq8Distortion(corpus, g.embCol)
          .select(col("max_err").as("stat"))
      case _ =>
        graft.operators.Similarity.pqDistortion(corpus,
            graft.operators.AnnIndex.storedCodebooks(wh, g.schema, g.name),
            g.m, g.dim, g.idCol, g.embCol)
          .select(col("sum_sq_err").as("stat"))
    }
    val row = perUnit.agg(
      coalesce(max(col("stat")), lit(0L)).as("mx"),
      coalesce(expr("sum(stat) div count(1)"), lit(0L)).as("avg")).head()
    val (mx, avg) = (row.getLong(0), row.getLong(1))
    mx * 10000L / math.max(1L, avg)
  }
}
