package graft.controlplane

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Relational

/** Control-plane domain layer — the reference's `etl_manager.py` query
  * surface re-expressed as typed DataFrame transforms. Each function cites
  * the reference lines it reproduces; all state lives in warehouse tables
  * (`etl_dates`, run registry, task-status log) so every transition is a
  * declarative read→transform→write.
  *
  * Tables are registry-scale (rows ≈ dates × sources × tasks), so the
  * calendar, resume-gate and report entry points first bring their inputs
  * into one partition ([[registry]]).
  * `coalesce(1)` reports a single partition, which satisfies every
  * clustered, ordered and all-tuples distribution: the aggregates, windows,
  * sorts and (shuffle-hash hinted) joins above it plan with no exchange,
  * and each action runs as one Spark job of one task, where a data-plane
  * plan would pay a job per shuffle stage over a few dozen rows.
  *
  * Two entry points keep their exchanges. [[reconcileCounts]]'s layer
  * frames (source, staging, hub) are data-plane, so it keeps its
  * partial-count shuffle. [[syncRegistry]] keeps its one shuffle on the
  * registry keys; no daily-load path calls it.
  */
object ControlPlane {

  /** One partition for a registry-scale frame: the plans above it need no
    * exchange, and a write of it leaves one file. */
  private[graft] def registry(df: DataFrame): DataFrame = df.coalesce(1)

  // ---- ETL calendar (etl_manager.py:43-70,219-268,304-355) ----

  /** Next business date: min open non-holiday date, else max date — the
    * try/except ORDER BY LIMIT 1 pair collapsed to one aggregate (O1). */
  def nextEtlDate(etlDates: DataFrame): Option[String] =
    Relational.pickNextOrFallback(
      registry(etlDates), col("holiday_flag") === 0 && col("status").isNull, "etl_date")
      .collect().headOption.flatMap(r => Option(r.getString(0)))

  /** Flip current_date_flag: 1 for the chosen date, 0 elsewhere
    * (etl_manager.py:319-337, two UPDATEs → one rewrite). */
  def setCurrentDate(etlDates: DataFrame, etlDate: String): DataFrame =
    registry(etlDates).withColumn("current_date_flag",
      when(col("etl_date") === etlDate, 1).otherwise(0))

  /** Close the date: status='success' when every source's latest run
    * succeeded (the W1 latest-per-group dedup feeding an A3 bool-all,
    * etl_manager.py:219-268). */
  def closeEtlDate(etlDates: DataFrame, runs: DataFrame, etlDate: String): DataFrame = {
    val latest = Relational.latestPerGroup(
      registry(runs).filter(col("etl_date") === etlDate), Seq("source_name"), "created_at",
      Seq("run_id"))
    // a date with ZERO runs must stay open — the empty-set-is-success parity
    // applies to task lists within a run, not to "did anything run at all"
    val head = latest.agg(
      Relational.boolAllExpr(col("status") === "success").as("ok"),
      count(lit(1)).as("n")).collect().head
    val allOk = head.getBoolean(0) && head.getLong(1) > 0
    val dates = registry(etlDates)
    if (allOk)
      dates.withColumn("status",
        when(col("etl_date") === etlDate, lit("success")).otherwise(col("status")))
    else dates
  }

  // ---- Run registry (etl_manager.py:72-102,271-301,358-382) ----

  /** Roll task statuses up to run status: success iff every task row is
    * success/skipped; empty task list counts as success (Python all([])
    * parity, etl_manager.py:168-216; SURVEY §7.4.5). */
  def rollupRunStatus(tasks: DataFrame): DataFrame =
    tasks.groupBy(col("run_id"))
      .agg(when(Relational.boolAllExpr(col("status").isin("success", "skipped")),
        lit("success")).otherwise(lit("failed")).as("run_status"))

  /** Resume-skip gate: task ids with a prior success for etl_date and any
    * of `sources` — check_conditions semantics (etl_manager.py:435-468)
    * including the TRY(split(task_id,'.')[3]) compound-OR match (P3). The
    * reference asks once per source; one collect answers for all of them. */
  def succeededTasks(tasks: DataFrame, etlDate: String, sources: String*): Set[String] =
    registry(tasks).filter(col("etl_date") === etlDate &&
      col("source_name").isin(sources: _*) && col("status") === "success")
      .select(coalesce(
        Relational.tryElementAt(col("task_id"), "\\.", 3), col("task_id")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet

  // ---- Reporting (send_email.py:409-517 → one grouped pass) ----

  /** The per-source completion report: the reference loops ~5 queries × 20
    * sources; one grouped pass computes every count (A2 mapping). The
    * reference's count(DISTINCT task_id) and count(DISTINCT CASE success)
    * become a group by task followed by plain counts: a task counts once,
    * and as a success when any of its rows succeeded; a null task_id counts
    * nowhere. Distinct aggregates would plan as an Expand, which drops the
    * one-partition layout and brings back two shuffles. */
  def completionReport(tasks: DataFrame): DataFrame = {
    val perTask = registry(tasks)
      .groupBy(col("source_name"), col("schema_name"), col("task_id"))
      .agg(Relational.boolAnyExpr(col("status") === "success").as("ok"))
    val total = count(col("task_id"))
    val success = count(when(col("ok"), col("task_id")))
    perTask.groupBy(col("source_name"), col("schema_name"))
      .agg(total.as("n_total"), success.as("n_success"), (total - success).as("n_failure"))
  }

  /** Render the report rows the reference emails (send_email.py:569-650
    * template replacement, F4) — one HTML table row per source plus a
    * totals row, entirely via format_string (no driver-side string loop).
    * One pass over the report: a single global aggregate collects the
    * rendered rows and sums the totals, and the rows then the totals row
    * explode out of it. Report rows are registry-scale (sources ×
    * schemas), so the collected array is small, and the aggregate over a
    * one-partition report plans no exchange. An empty report still
    * renders its totals row, with zeros. */
  def renderCompletionReport(report: DataFrame): DataFrame = {
    val counts = Seq("n_total", "n_success", "n_failure")
    def row(source: Column, schema: Column, label: Column): Column =
      struct(source.as("source_name"), schema.as("schema_name"),
        format_string("<tr><td>%s</td><td>%s</td><td>%d</td><td>%d</td><td>%d</td></tr>",
          label +: schema +: counts.map(col): _*).as("html_row"))
    report
      .agg(collect_list(row(col("source_name"), col("schema_name"), col("source_name"))).as("rows"),
        counts.map(c => coalesce(sum(col(c)), lit(0L)).as(c)): _*)
      .select(explode(concat(col("rows"),
        array(row(lit("_total"), lit(""), lit("TOTAL"))))).as("r"))
      .select("r.*")
  }

  /** Drift-detail report (send_email.py:26-63): the schemadrift rows of one
    * run split into DELETED (status D) and ADDED (status I) sections,
    * rendered as HTML rows ordered by table, column. Output: (section,
    * table_name, column_name, html_row). */
  def renderDriftReport(drift: DataFrame, runId: String): DataFrame =
    drift.filter(col("run_id") === runId && col("status").isin("D", "I"))
      .select(
        when(col("status") === "D", lit("deleted")).otherwise(lit("added")).as("section"),
        col("table_name"), col("column_name"),
        format_string("<tr><td>%s</td><td>%s</td><td>%s</td><td>%s</td></tr>",
          col("table_name"), col("source_name"), col("column_name"),
          col("data_type")).as("html_row"))
      // deleted section first, as the reference email lays it out
      .orderBy(when(col("section") === "deleted", 0).otherwise(1),
        col("table_name"), col("column_name"))

  /** Error-summary report (send_email.py:654-667): one row per task not in
    * (success, skipped), per source. */
  def renderErrorSummary(tasks: DataFrame): DataFrame =
    registry(tasks).filter(!col("status").isin("success", "skipped"))
      .select(col("source_name"), col("task_id"), col("status"),
        format_string("<tr><td>%s</td><td>%s</td><td>%s</td></tr>",
          col("source_name"), col("task_id"), col("status")).as("html_row"))
      .orderBy(col("source_name"), col("task_id"))

  /** Run-detail report (send_email.py:751-833): for each source's LATEST
    * run of `etlDate` (argmax created_at from the run log), the failed
    * tasks with start/end shifted to ICT (+7, F13) and the dag type
    * extracted from the '__'-split dag_id (F1/F2). Expects task rows
    * (run_id, source_name, dag_id, task_id, status, start_time, end_time)
    * and run-log rows (etl_date, source_name, run_id, created_at). */
  def renderRunDetail(tasks: DataFrame, runLog: DataFrame, etlDate: String): DataFrame = {
    val latest = Relational.argmax(
      registry(runLog).filter(col("etl_date") === etlDate), Seq("source_name"), "created_at")
      .select(col("source_name"), col("run_id"))
    // both sides are in one partition, where a shuffle-hash join needs no
    // exchange; the planner's size-based pick would broadcast, a job more
    registry(tasks).join(latest.hint("shuffle_hash"), Seq("source_name", "run_id"))
      .filter(!col("status").isin("success", "skipped"))
      .select(
        col("source_name"),
        Relational.tryElementAt(col("dag_id"), "__", 3).as("dag_type"),
        col("task_id"),
        date_format(from_utc_timestamp(col("start_time"), "Asia/Bangkok"),
          "yyyy-MM-dd HH:mm:ss").as("start_ict"),
        date_format(from_utc_timestamp(col("end_time"), "Asia/Bangkok"),
          "yyyy-MM-dd HH:mm:ss").as("end_ict"))
      .withColumn("html_row",
        format_string("<tr><td>%s</td><td>%s</td><td>%s</td><td>%s</td><td>%s</td></tr>",
          col("source_name"), col("dag_type"), col("task_id"),
          col("start_ict"), col("end_ict")))
      .orderBy(col("source_name"), col("task_id"))
  }

  // ---- Record-count reconciliation (dag_etlpipeline__root.py:16,55-60) ----

  /** The root DAG's `check_records` task: per-source row-count
    * reconciliation between pipeline layers. The reference imports
    * `check_num_of_records` from `dags.utils.test_num_of_records` and runs
    * it with trigger_rule='all_done' right before `end`
    * (dag_etlpipeline__root.py:16,55-60); the util file itself is absent
    * from the repo, so the implied contract is implemented: staging must
    * hold exactly the rows the source delivered, and every staged business
    * key must have landed in its vault hub.
    *
    * Input: tagged layer frames `(source_name, layer, frame)` where layer ∈
    * {source, staging, vault_missing}; `vault_missing` is the anti-join of
    * staged business keys against the hub (expected empty). Output: one row
    * per source with the three counts and a match/mismatch status.
    *
    * Scale shape: each frame contributes only a constant-width tag row per
    * input row, the union aggregates with map-side partial counts, and the
    * single shuffle carries one row per (source, layer) — at 100 TB the
    * network cost is O(sources), not O(rows). No driver-side count() chain:
    * an action over the report runs one plan, not one per layer. Under AQE
    * that plan still starts several jobs, one per shuffle map stage (the
    * layer frames' own shuffles, such as a `vault_missing` distinct and
    * anti-join, then this aggregation's shuffle) plus the result job: 4 per
    * `check_records` in a traced `vault_daily` day. Each action re-runs
    * them all, so evaluate the report once. */
  def reconcileCounts(layers: Seq[(String, String, DataFrame)]): DataFrame = {
    require(layers.nonEmpty, "reconcileCounts needs at least one layer frame")
    val tagged = layers.map { case (src, layer, df) =>
      df.select(lit(src).as("source_name"), lit(layer).as("layer"))
    }.reduce(_ unionByName _)
    tagged.groupBy(col("source_name"))
      .agg(
        count(when(col("layer") === "source", 1)).as("source_n"),
        count(when(col("layer") === "staging", 1)).as("staging_n"),
        count(when(col("layer") === "vault_missing", 1)).as("vault_missing_n"))
      .withColumn("status",
        when(col("source_n") === col("staging_n") &&
          col("vault_missing_n") === 0, lit("match")).otherwise(lit("mismatch")))
  }

  // ---- Registry lifecycle (etl_manager.py:779-866,983-1069,1120-1379) ----

  /** Full sync cycle (J2 register new, J3 retire missing, J4 reactivate
    * returners, J6 their updates): returns (newRegistry, changeLog rows
    * with change_type add/delete/reused).
    *
    * One pass: the registry rows and the incoming rows are tagged, unioned
    * and given per-key flags by one window over `keys` (is the key
    * incoming, registered, active, retired), and both returned frames
    * derive from that frame. Each reads `registry` and `incoming` once, so
    * a sync of a sync plans one pass more, not a copy of the first sync
    * per branch.
    *  - new: incoming rows whose key is not registered, with their non-key
    *    columns and duplicates, active_status=1, load_date=`loadDate`;
    *  - retire: every row of a key that has an active row and is no longer
    *    incoming gets active_status=0, retire_date=`loadDate`;
    *  - reactivate: every row of a key that has a retired row and is
    *    incoming again gets active_status=1, retire_date=null;
    *  - the change log has one `add` per new row, one `delete` per active
    *    row that retires and one `reused` per retired row that returns.
    *
    * A key with a null part matches nothing, as in an equi-join: an
    * incoming one is always new, a registered active one retires. */
  def syncRegistry(registry: DataFrame, incoming: DataFrame, keys: Seq[String],
                   loadDate: Column): (DataFrame, DataFrame) = {
    val cols = registry.columns.toSeq.map(col)
    val fresh = incoming
      .withColumn("active_status", lit(1))
      .withColumn("retire_date", lit(null).cast("string"))
      .withColumn("load_date", loadDate)
      .select(cols: _*)
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    val byKey = Window.partitionBy(keys.map(col): _*)
    def anyOfKey(p: Column): Column = when(keyed, max(p).over(byKey)).otherwise(p)
    val reg = col("__reg")
    val flagged = registry.withColumn("__reg", lit(true))
      .unionByName(fresh.withColumn("__reg", lit(false)))
      .withColumn("__incoming", anyOfKey(!reg))
      .withColumn("__known", anyOfKey(reg))
      .withColumn("__active", anyOfKey(reg && coalesce(col("active_status") === 1, lit(false))))
      .withColumn("__retired", anyOfKey(reg && coalesce(col("active_status") === 0, lit(false))))
    val back = col("__incoming") && col("__retired")
    val gone = !col("__incoming") && col("__active")
    val merged = flagged.filter(reg || !col("__known"))
      .withColumn("retire_date", when(reg && back, lit(null).cast("string"))
        .when(reg && gone, loadDate).otherwise(col("retire_date")))
      .withColumn("active_status", when(reg && back, lit(1))
        .when(reg && gone, lit(0)).otherwise(col("active_status")))
      .select(cols: _*)
    val changes = flagged
      .select(keys.map(col) :+
        when(!reg, when(!col("__known"), lit("add")))
          .when(col("active_status") === 1 && !col("__incoming"), lit("delete"))
          .when(col("active_status") === 0 && col("__incoming"), lit("reused"))
          .as("change_type"): _*)
      .filter(col("change_type").isNotNull)
    (merged, changes)
  }
}
