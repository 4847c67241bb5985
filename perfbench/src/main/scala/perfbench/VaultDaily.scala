package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.controlplane.ControlPlane
import graft.core.Warehouse
import graft.maintenance.Maintenance
import graft.pipeline.{DailyPipeline, Housekeeping}
import graft.vault.Vault

/** The write path: `DailyPipeline.run` over a fixed number of etl_dates,
  * each day followed by the control-plane reports, then housekeeping. One
  * pass builds a fresh warehouse from day 1; the seed decides which keys
  * each day admits and which rows change. An untimed pass on a throwaway
  * warehouse comes first, so the timed passes run warmed code. */
final class VaultDaily(run: Run) {
  import Run.Warm
  import VaultDaily._

  private val spark = run.spark
  private val args = run.args
  private val base = s"${args.workDir}/base"
  private val dates = (1 to Days).map(d => f"2024-01-$d%02d")

  // the traced run observes the warehouse through the subclass; the
  // untraced run uses the engine's own class
  private def newWarehouse(root: String): Warehouse =
    if (args.trace) new TracingWarehouse(spark, root, run.tracer, run.counts)
    else new Warehouse(spark, root)

  def run(): Unit = {
    val t0 = System.nanoTime()
    Gen.write(spark, base, Sources.map(_.table).toSet)
    run.genSecs = Run.secsSince(t0)
    val t1 = System.nanoTime()
    onePass(Warm)
    run.warmSecs = Run.secsSince(t1)
    run.timedPasses(onePass)
  }

  /** The day-d extract of a source: the admitted keys, with the attribute
    * values of each key's version on that day. It is a pure function of the
    * seed and the day, so the pipeline's second load (the record-count
    * check) sees the same rows as its staging load. */
  private def dayFrame(s: Source, d: Int): DataFrame = {
    val k = col(s.key)
    def h(salt: Column*) = pmod(xxhash64(Seq(lit(args.seed), lit(s.table), k) ++ salt: _*), lit(1000))
    val version = (2 to d).map(j => when(h(lit(j)) < ChangePerMille, 1).otherwise(0))
      .foldLeft(lit(0): Column)(_ + _)
    spark.read.parquet(s"$base/${s.table}.parquet")
      .filter(h() < AdmitPerMille + GrowPerMille * (d - 1))
      .withColumn("__v", version)
      .select(s.columns.map(c => s.churn.get(c).map(f => f(col(c), col("__v"))).getOrElse(col(c)).as(c)): _*)
  }

  /** One pass on a fresh warehouse: every day with its reports, the vault
    * checks (off the clock), housekeeping and the read-back check (off the
    * clock). Returns the timed cost: the days plus housekeeping. The warm-up
    * pass runs and checks the same, but records no operation. */
  private def onePass(pass: Int): Cost = {
    val timed = pass != Warm
    val traced = args.trace && timed
    val root = s"${args.workDir}/wh-${if (timed) pass.toString else "warm"}"
    val wh = newWarehouse(root)
    val problemsBefore = run.problems.size
    val firstOp = run.ops.size
    var cost = runDays(wh, pass, traced)
    val whDir = new File(root)
    // nothing is deleted before housekeeping, so the tree holds every byte
    // the days wrote, and staging every version of the staged sources
    val (writtenBytes, _) = Run.du(whDir)
    val (stagedBytes, _) = Run.du(new File(s"$root/staging"))
    val before = run.harness { checkVault(wh, traced); tableCounts(wh) }
    if (timed) run.beginOp(s"p$pass/housekeeping") else run.harnessWork()
    val (hk, hkCost) = Cost.of(run.tracer.span("bench.op")(housekeeping(wh, whDir, traced)))
    cost += hkCost.copy(secs = hk)
    val after = run.harness(tableCounts(wh))
    if (after != before) run.problem(s"row counts changed by housekeeping: $before -> $after")
    // a wrong output fails every operation of its pass
    if (run.problems.size > problemsBefore)
      for (i <- firstOp until run.ops.size) run.ops(i) = run.ops(i).copy(ok = false)
    if (timed) {
      val (diskBytes, _) = Run.du(whDir)
      val current = before.keys.toSeq.map { case (s, t) => Maintenance.tableBytes(spark, wh, s, t) }.sum
      run.passStats += Map("housekeeping_s" -> hk,
        "write_amp" -> writtenBytes.toDouble / stagedBytes,
        "space_amp" -> diskBytes.toDouble / current)
    }
    Run.deleteTree(whDir)
    cost
  }

  /** Every day of the calendar; returns their summed cost. */
  private def runDays(wh: Warehouse, pass: Int, traced: Boolean): Cost = {
    val p = new DailyPipeline(spark, wh)
    val specs = Sources.map(s => p.SourceSpec(s.table,
      load = () => dayFrame(s, currentDay),
      businessKeys = Seq(s.key), attrs = s.attrs, linkTo = s.linkTo))
    import spark.implicits._
    wh.overwrite("op_metadata", "etl_dates",
      dates.map(d => (d, 0, null.asInstanceOf[String], 0))
        .toDF("etl_date", "holiday_flag", "status", "current_date_flag"))
    var total = Cost.Zero
    for (d <- 1 to Days) {
      currentDay = d
      if (pass != Warm) run.beginOp(s"p$pass/day$d") else run.harnessWork()
      val ((date, result), cost) = Cost.of(run.tracer.span("bench.op") {
        val r = run.tracer.span("pipeline.run")(p.run(specs))
        run.tracer.span("controlplane.report")(reports(wh, r._1))
        r
      })
      val bad = result.runs.filterNot(r => r.status == "success" || r.status == "skipped")
      if (date != dates(d - 1)) run.problem(s"day $d ran etl_date $date, expected ${dates(d - 1)}")
      bad.foreach(r => run.problem(s"day $d task ${r.taskId} ended ${r.status}: ${r.error.getOrElse("")}"))
      total += cost
      if (pass != Warm) run.ops += OpSample(pass, s"day$d", cost, bad.isEmpty)
      if (traced) {
        run.counts("pipeline.tasks") += result.runs.size
        run.counts("pipeline.task_failures") += result.runs.count(_.status == "failed")
      }
      run.releaseAll()
    }
    total
  }

  @volatile private var currentDay = 1

  /** The control plane's per-day reports, rendered and collected as the
    * reference's e-mails would be. */
  private def reports(wh: Warehouse, date: String): Unit = {
    val tasks = wh.read("op_metadata", "task_log").filter(col("etl_date") === date)
      .withColumn("schema_name",
        when(col("task_id").startsWith("staging_"), "staging")
          .when(col("task_id").startsWith("vault_"), "raw_vault").otherwise("pipeline"))
    val runs = wh.read("op_metadata", "run_log")
    ControlPlane.renderCompletionReport(ControlPlane.completionReport(tasks)).collect()
    ControlPlane.renderErrorSummary(tasks).collect()
    val detail = tasks.join(runs.select("etl_date", "source_name", "run_id", "created_at"),
        Seq("etl_date", "source_name"), "left")
      .withColumn("dag_id", concat(lit("dag_etlpipeline__"), col("source_name"), lit("__datavault")))
      .withColumn("start_time", timestamp_millis(col("created_at")))
      .withColumn("end_time", timestamp_millis(col("created_at")))
    ControlPlane.renderRunDetail(detail, runs, date).collect()
  }

  /** Compaction, metadata prune and orphan sweep; returns their summed
    * seconds. The prune runs as if a month later, so every log entry but
    * the current one is retired and the sweep has orphans to collect. */
  private def housekeeping(wh: Warehouse, whDir: File, traced: Boolean): Double = {
    val month = java.time.LocalDate.now().plusMonths(1).toString.take(7)
    val (b0, _) = if (traced) Run.du(whDir) else (0L, 0L)
    val c = timedSpan("maintenance.compact")(Housekeeping.runCompaction(spark, wh))
    val (b1, f1) = if (traced) Run.du(whDir) else (0L, 0L)
    val pr = timedSpan("maintenance.prune")(
      Housekeeping.runMetadataPrune(spark, wh, month, compactionRanThisMonth = true))
    val sw = timedSpan("maintenance.sweep")(Housekeeping.runOrphanSweep(spark, wh, retainMs = 0L))
    val (b2, f2) = if (traced) Run.du(whDir) else (0L, 0L)
    Seq(c, pr, sw).foreach { case (_, r) =>
      r.runs.filterNot(x => x.status == "success" || x.status == "skipped")
        .foreach(x => run.problem(s"housekeeping task ${x.taskId} ended ${x.status}"))
    }
    if (traced) {
      run.counts("maintenance.compact_s") += c._1
      run.counts("maintenance.prune_s") += pr._1
      run.counts("maintenance.sweep_s") += sw._1
      run.counts("maintenance.bytes_rewritten_mb") += (b1 - b0) / 1e6
      run.counts("maintenance.bytes_freed_mb") += (b1 - b2) / 1e6
      run.counts("maintenance.files_deleted") += math.max(0L, f1 - f2)
    }
    c._1 + pr._1 + sw._1
  }

  private def timedSpan[T](name: String)(body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = run.tracer.span(name)(body)
    (Run.secsSince(t0), r)
  }

  private def tableCounts(wh: Warehouse): Map[(String, String), Long] =
    Run.parallel(wh.listTables().collect().toSeq.map { r =>
      val (s, t) = (r.getString(0), r.getString(1))
      () => (s, t) -> wh.read(s, t).count()
    }).toMap

  /** The vault invariants after the last day of a pass. */
  private def checkVault(wh: Warehouse, traced: Boolean): Unit = {
    val last = dates.last
    Sources.foreach { s =>
      val staged = dayFrame(s, Days)
      val hk = s"sat_${s.table}_hash_key"
      val hub = wh.read("raw_vault", s"hub_${s.table}")
      val sat = wh.read("raw_vault", s"sat_${s.table}")
      val snap = Vault.snapshotAt(sat, lit(last))
      // the newest version of each key in the point-in-time view of the
      // last load must carry that day's staged attributes
      val newest = snap.withColumn("__r", row_number().over(
          Window.partitionBy(col(hk)).orderBy(col("load_date").desc)))
        .filter(col("__r") === 1).select((col(hk) +: s.attrs.map(col)): _*)
      val expected = staged.select((Vault.hashKey(Seq(col(s.key))).as(hk) +: s.attrs.map(col)): _*)
      val linkCounts = s.linkTo.toSeq.flatMap { case (other, otherKeys) => Seq(
        () => staged.select((s.key +: otherKeys).map(col): _*).distinct().count().toString,
        () => wh.read("raw_vault", s"link_${s.table}_$other").count().toString) }
      val traceCounts = if (!traced) Nil else Seq(
        () => snap.count().toString,
        // day 1 loads every key once; the waste shows from day 2 on
        () => sat.filter(col("load_date") =!= dates.head).count().toString,
        () => (2 to Days).map(d => changedRows(s, d)).sum.toString)
      val got = Run.parallel(Seq(
        () => wh.read("check", "record_count").filter(col("status") === "mismatch").count().toString,
        () => staged.select(s.key).distinct().count().toString,
        () => hub.count().toString,
        () => hub.select(s"hub_${s.table}_hash_key").distinct().count().toString,
        () => Digest.of(newest),
        () => Digest.of(expected)) ++ linkCounts ++ traceCounts)
      val Seq(mismatches, keys, hubRows, hubKeys, newestDigest, stagedDigest) = got.take(6)
      if (mismatches != "0") run.problem(s"check.record_count reports $mismatches mismatches")
      if (hubRows != keys || hubKeys != keys)
        run.problem(s"hub_${s.table} holds $hubRows rows, $hubKeys keys, for $keys admitted keys")
      got.slice(6, 6 + linkCounts.size).grouped(2).foreach { case Seq(pairs, links) =>
        if (links != pairs) run.problem(s"link of ${s.table} holds $links rows for $pairs key pairs")
      }
      if (newestDigest != stagedDigest)
        run.problem(s"sat_${s.table} newest versions $newestDigest, staged $stagedDigest")
      if (traced) {
        val Seq(snapRows, satAdded, changed) = got.drop(6 + linkCounts.size).map(_.toDouble)
        run.counts("vault.snapshot_rows") += snapRows
        run.counts("vault.snapshot_keys") += keys.toDouble
        run.counts("vault.hub_rows_added") += hubRows.toDouble
        run.counts("vault.sat_rows_added") += satAdded
        run.counts("vault.changed_rows") += changed
      }
    }
  }

  /** Rows of the day-d extract that are new or whose attributes differ
    * from day d-1: the rows a change-compressing satellite must add. */
  private def changedRows(s: Source, d: Int): Long = {
    def day(i: Int) = dayFrame(s, i).select((s.key +: s.attrs).map(col): _*)
    day(d).except(day(d - 1)).count()
  }
}

object VaultDaily {
  /** Day 1 is the initial load, which creates every table; day 2 is the
    * first daily load to take the merge path. A warm day costs about 7 s on
    * a 4-core box, so more days do not fit the run budget. */
  val Days = 2
  /** 90% of keys are admitted on day 1 and 1% more each day after. */
  val AdmitPerMille = 900
  val GrowPerMille = 10
  /** Each admitted row changes its attributes with probability 2% a day. */
  val ChangePerMille = 20

  final case class Source(table: String, key: String, attrs: Seq[String],
                          columns: Seq[String], churn: Map[String, (Column, Column) => Column],
                          linkTo: Option[(String, Seq[String])] = None)

  /** One source whose business key is unique per row (lineitem's
    * (l_orderkey, l_linenumber) is not); its link to the customer hub keys
    * exercises the link build too. Each further source would add about a
    * third to the day's time. */
  val Sources = Seq(
    Source("orders", "o_orderkey", Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      Map("o_totalprice" -> ((c, v) => round(c + v * 11.25, 2))),
      linkTo = Some(("customer", Seq("o_custkey")))))
}
