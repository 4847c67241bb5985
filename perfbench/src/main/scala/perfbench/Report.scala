package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Turns one run's samples into metrics. Every metric is printed as a
  * `metric` line with its unit and sample count; the last stdout line is
  * the JSON object BENCHMARK.json describes: the end-to-end metrics
  * of an untraced run, or the per-layer metrics of a traced one. */
object Report {

  /** End-to-end metrics gated by BENCHMARK.json: reported by every
    * workload, never 0, and steady enough between runs to carry a bound.
    * The rest are printed with their sample counts (see NOTES.md). */
  val EndToEnd = Seq("setup_s", "pass_s")

  /** Per-layer metrics every workload reports (the JSON of a traced run). */
  val PerLayer = Seq(
    "queries.barrier_jobs", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.deserialize_s", "spark.core_util", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.peak_exec_mem_mb", "spark.failed_tasks",
    "warehouse.commits", "warehouse.bytes_written_mb", "vault.hub_rows_added",
    "vault.sat_rows_added", "vault.sat_rows_per_change", "vault.snapshot_rows_per_key",
    "pipeline.tasks", "pipeline.task_failures", "maintenance.bytes_rewritten_mb",
    "maintenance.bytes_freed_mb", "maintenance.files_deleted", "setup.session_s",
    "setup.gen_s", "setup.warm_pass_s", "queries.self_frac", "spark.self_frac",
    "warehouse.self_frac", "pipeline.self_frac", "controlplane.self_frac",
    "maintenance.self_frac", "bench.self_frac")

  def print(run: Run): Unit = {
    val ms = scala.collection.mutable.ArrayBuffer.empty[Metric]
    def add(name: String, v: Double, unit: String, n: Int): Unit = ms += Metric(name, v, unit, n)
    val w = run.args.workload
    val isVault = w == "vault_daily"
    val passes = run.passes.toSeq
    val opSecs = run.ops.map(_.secs).toSeq
    val attempted = run.ops.size
    val failed = run.ops.count(!_.ok)

    add("setup_s", run.setupSecs, "s", 1)
    add("setup.session_s", run.sessionSecs, "s", 1)
    add("setup.gen_s", run.genSecs, "s", 1)
    add("setup.warm_pass_s", run.warmSecs, "s", 1)
    add("pass_s", Run.median(passes.map(_.secs)), "s", passes.size)
    add("pass_cpu_s", Run.median(passes.map(_.cost.cpu)), "s", passes.size)
    add("op_p50_s", Run.median(opSecs), "s", opSecs.size)
    add("failed_frac", failed.toDouble / math.max(1, attempted), "ratio", attempted)
    if (isVault) {
      add("day_s", Run.median(opSecs), "s", opSecs.size)
      val stats = run.passStats.toSeq
      for (k <- Seq("housekeeping_s", "write_amp", "space_amp"))
        add(k, Run.median(stats.map(_(k))), if (k.endsWith("_s")) "s" else "ratio", stats.size)
    } else {
      add("query_p50_s", Run.median(opSecs), "s", opSecs.size)
      // a percentile is reported only with at least ten samples beyond it
      if (opSecs.size >= 100) add("query_p90_s", Run.quantile(opSecs, 0.9), "s", opSecs.size)
      else System.out.println(s"metric $w query_p90_s not reported: ${opSecs.size} samples, 100 needed")
    }
    add("peak_rss_mb", run.peakRssMb, "MB", 1)
    if (run.args.trace) perLayer(run, add)

    run.ops.foreach(o => System.out.println(f"op $w pass=${o.pass} ${o.name} ${o.secs}%.4f s ok=${o.ok}"))
    ms.foreach(m => System.out.println(f"metric $w ${m.name} ${m.value}%.6f ${m.unit} n=${m.n}"))
    run.problems.foreach(p => System.out.println(s"check $w FAILED $p"))
    val keep = if (run.args.trace) PerLayer else EndToEnd
    val byName = ms.map(m => m.name -> m).toMap
    val json = keep.map { k =>
      val m = byName(k)
      s""""$k": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    System.out.println(s"""{"correct": ${run.problems.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$json}}""")
  }

  private def perLayer(run: Run, add: (String, Double, String, Int) => Unit): Unit = {
    val p = run.passes.size
    val spans = run.tracer.spans.toSeq.filter(s => run.tracedOps(s.op))
    def spanSecs(pred: Span => Boolean) = spans.filter(pred).map(_.dur).sum / 1e9 / p
    def per(v: Double) = v / p
    val groups = run.tracedOps.toSeq
    val totals = groups.flatMap(run.listener.totals.get)
    def sumT(f: StageTotals => Long) = totals.map(f).sum.toDouble
    val tracedSecs = run.passes.map(_.secs).sum

    add("queries.build_s", spanSecs(_.name == "queries.build"), "s", p)
    add("queries.exec_s", spanSecs(_.name == "queries.exec"), "s", p)
    val buildIds = spans.filter(_.name == "queries.build").map(_.id).toSet
    add("queries.barrier_jobs",
      per(run.listener.jobsBySpan.filter(kv => buildIds(kv._1)).values.sum), "count", p)
    add("spark.jobs", per(groups.map(g => run.listener.jobsByGroup.getOrElse(g, 0)).sum), "count", p)
    add("spark.stages", per(groups.map(g => run.listener.stagesByGroup.getOrElse(g, 0)).sum), "count", p)
    add("spark.tasks", per(sumT(_.tasks)), "count", p)
    add("spark.task_s", per(sumT(_.runMs) / 1e3), "s", p)
    add("spark.deserialize_s", per(sumT(_.deserializeMs) / 1e3), "s", p)
    add("spark.core_util", sumT(_.runMs) / 1e3 / math.max(1e-9, tracedSecs * 4), "ratio", p)
    add("spark.gc_s", per(sumT(_.gcMs) / 1e3), "s", p)
    add("spark.shuffle_write_mb", per(sumT(_.shuffleWriteBytes) / 1e6), "MB", p)
    add("spark.shuffle_read_mb", per(sumT(_.shuffleReadBytes) / 1e6), "MB", p)
    add("spark.spill_mb", per(sumT(_.spillBytes) / 1e6), "MB", p)
    add("spark.peak_exec_mem_mb", totals.map(_.peakExecMem).foldLeft(0L)(math.max) / 1e6, "MB", p)
    add("spark.failed_tasks", per(sumT(_.failedTasks)), "count", p)

    def wh(call: String) = spanSecs(s => s.name.startsWith(s"warehouse.$call@"))
    Seq("merge", "overwrite", "append", "read").foreach(c => add(s"warehouse.${c}_s", wh(c), "s", p))
    add("warehouse.meta_s", spanSecs(s => s.layer == "warehouse" &&
      (s.name.endsWith("@op_metadata") || s.name.endsWith("@check"))), "s", p)
    val c = run.counts
    add("warehouse.commits", per(c("warehouse.commits")), "count", p)
    add("warehouse.bytes_written_mb", per(c("warehouse.bytes_written_mb")), "MB", p)
    add("vault.hub_rows_added", per(c("vault.hub_rows_added")), "count", p)
    add("vault.sat_rows_added", per(c("vault.sat_rows_added")), "count", p)
    add("vault.sat_rows_per_change",
      if (c("vault.changed_rows") > 0) c("vault.sat_rows_added") / c("vault.changed_rows") else 0.0, "ratio", p)
    add("vault.snapshot_rows_per_key",
      if (c("vault.snapshot_keys") > 0) c("vault.snapshot_rows") / c("vault.snapshot_keys") else 0.0, "ratio", p)
    add("pipeline.tasks", per(c("pipeline.tasks")), "count", p)
    add("pipeline.task_failures", per(c("pipeline.task_failures")), "count", p)
    add("controlplane.report_s", spanSecs(_.name == "controlplane.report"), "s", p)
    Seq("compact_s", "sweep_s", "prune_s").foreach(k => add(s"maintenance.$k", per(c(s"maintenance.$k")), "s", p))
    add("maintenance.bytes_rewritten_mb", per(c("maintenance.bytes_rewritten_mb")), "MB", p)
    add("maintenance.bytes_freed_mb", per(c("maintenance.bytes_freed_mb")), "MB", p)
    add("maintenance.files_deleted", per(c("maintenance.files_deleted")), "count", p)

    // self time per layer, as seconds per pass and as a share of the
    // traced passes' measured time
    val self = Tracer.selfTimes(spans)
    for (layer <- Seq("queries", "spark", "warehouse", "pipeline", "controlplane", "maintenance", "bench")) {
      val s = self.getOrElse(layer, 0L) / 1e9
      add(s"$layer.self_s", s / p, "s", p)
      add(s"$layer.self_frac", s / math.max(1e-9, tracedSecs), "ratio", p)
    }
    val out = Paths.get(run.args.workDir).getParent.resolve("traces")
    Files.createDirectories(out)
    val lines = spans.sortBy(_.start).map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""parent": ${s.parent}, "op": "${s.op}"}""")
    val file = out.resolve(s"${run.args.workload}-seed${run.args.seed}.jsonl")
    Files.write(file, lines.asJava, StandardCharsets.UTF_8)
    System.out.println(s"trace ${run.args.workload} ${spans.size} spans written to $file")
  }
}
