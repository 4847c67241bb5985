package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions.{fixedPoint, tokenCount}

/** OLAP-analytics breadth: multi-granularity rollup, pivot, windowed
  * moving average, and an ordered conversion funnel — the reporting
  * surface a warehouse user expects next to the relational core. All
  * integer-derived; every query has a bit-exact DuckDB oracle. */
object AnalyticsQueries {

  /** q68: ROLLUP over (lang, source) — doc and token totals at every
    * granularity in ONE pass (Spark expands grouping sets inside the
    * aggregate; no per-level rescan). gid disambiguates levels exactly as
    * the engines compute it: grouping(lang)·2 + grouping(source). */
  def q68Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"))
      .rollup(col("lang"), col("source"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang_g"),
        coalesce(col("source"), lit("ALL")).as("source_g"),
        col("gid").cast("long").as("gid"), col("n_docs"), col("n_tokens"))
      .orderBy(col("gid"), col("lang_g"), col("source_g"))

  private val PivotSources = (0 to 4).map(i => s"src$i")

  /** q69: pivot — docs per (lang × source) as columns, over an EXPLICIT
    * value list (an inferred list would need a separate distinct pass and
    * make the schema data-dependent; at 100 TB you pin the columns). */
  def q69Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("lang"))
      .pivot("source", PivotSources)
      .agg(count(lit(1)))
      .select(col("lang") +: PivotSources.map(s =>
        coalesce(col(s), lit(0L)).as(s)): _*)
      .orderBy(col("lang"))

  /** q70: trailing 3-hour moving average of hourly event counts per type —
    * the smoothing window every ops dashboard runs. Window partitioned by
    * event type (parallel across types); avg derives from two integer
    * window sums, so the e4 value is engine-exact. */
  def q70MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(spark, dir, "events")
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(-2, 0)
    hourly
      .withColumn("ma3_e4",
        fixedPoint(sum(col("n")).over(w) / count(lit(1)).over(w), 4))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** q71: ordered conversion funnel — users whose first view precedes a
    * click that precedes a purchase (strict event-time order, first
    * qualifying event per stage). Three co-partitioned shuffles on
    * user_id; each stage's frame is one row per surviving user, so the
    * joins stay narrow at any event volume. */
  def q71Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tus")).as("v_ts"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tus") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("c_ts"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tus") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("p_ts"))
    // one declarative plan — four 1-row aggregates unioned, not four
    // driver-side count() actions (which would launch four jobs)
    def stageCount(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"), col("n_users"))
    stageCount(e.select(col("user_id")).distinct(), "0_all")
      .unionByName(stageCount(v, "1_view"))
      .unionByName(stageCount(c, "2_click_after_view"))
      .unionByName(stageCount(p, "3_purchase_after_click"))
      .orderBy(col("stage"))
  }

  /** q72: top-3 tokens per language — the per-group heavy-hitter report.
    * Two-level shape: partial-agg'd groupBy(lang, token) shrinks the
    * explode to distinct pairs BEFORE the rank window sees anything, so
    * the window input is vocabulary-sized, not corpus-sized. */
  def q72TopTokens(spark: SparkSession, dir: String): DataFrame = {
    val counts = TextQueries.docsWide(spark, dir)
      .select(col("lang"),
        explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))
    counts.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("lang"), col("rnk").cast("long").as("rnk"), col("token"), col("n"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** q73: temperature-scaled mixture (T = 2) — the multilingual-LLM
    * standard for upweighting low-resource languages: weight ∝ √tokens
    * instead of ∝ tokens. √ of an integer is IEEE-correctly-rounded in
    * every engine, and quantizing each weight to e4 BEFORE the normalizing
    * sum keeps the total integer-exact in any accumulation order. */
  def q73TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val mass = Tables(spark, dir, "documents")
      .select(col("lang"), tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy(col("lang")).agg(sum(col("n_tok")).as("n_tokens"))
      .withColumn("w_e4", fixedPoint(sqrt(col("n_tokens").cast("double")), 4))
    val total = mass.agg(sum(col("w_e4")).as("w_total"))
    mass.join(broadcast(total), lit(true))
      .withColumn("share_e4",
        fixedPoint(col("w_e4") / col("w_total"), 4))
      .select(col("lang"), col("n_tokens"), col("w_e4"), col("share_e4"))
      .orderBy(col("lang"))
  }

  /** q74: retention cohorts — users grouped by first-seen day, distinct
    * actives per day offset. The warehouse's classic triangle view; two
    * shuffles on user_id (first-seen agg, then the cohort join) and one
    * on the (cohort, offset) rollup. */
  def q74Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    e.join(first, "user_id")
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q75: bipartite PageRank — supplier authority from the customer↔
    * supplier purchase graph (Clusters.bipartiteRank, 2 a→b pushes with
    * the mirror push between, damping 0.85, e4 integer fixed point; the
    * oracle unrolls the same three half-steps). Top 25, rank then key. */
  def q75SupplierRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
    graft.operators.Clusters.bipartiteRank(edges, "c", "s", pushes = 2)
      .select(col("s").as("s_suppkey"), col("rank_e4"))
      .orderBy(col("rank_e4").desc, col("s_suppkey"))
      .limit(25)
  }

  /** q83: path analysis — the 15 most common 3-step event paths (each
    * user's first three events in time order, event_id tie-break). One
    * shuffle on user_id for the rank window, then a path-string rollup;
    * the per-user frame never exceeds 3 rows after the filter. */
  def q83TopPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      // both sides drop null/empty event types (dirty ingest) — the
      // engine previously filtered empty PATHS with no oracle counterpart
      .filter(col("event_type").isNotNull && col("event_type") =!= "")
      .withColumn("step", row_number().over(w))
      .filter(col("step") <= 3)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("step"), col("event_type")))),
        x => x.getField("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(15)
  }

  /** q84: cumulative user growth — distinct users ever seen by each day,
    * derived as the running sum of first-seen cohort sizes (q74's first
    * frame): one user_id shuffle + a window over day-count rows, instead
    * of a per-day distinct over the whole history. */
  def q84UserGrowth(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("first_day"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    firstSeen.groupBy(date_format(col("first_day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("n_total_users", sum(col("n_new_users")).over(w))
      .orderBy(col("day"))
  }

  /** q86: windowed funnel — q71 with conversion deadlines, which is how
    * real funnels are defined: the click must land within 2 h of the
    * first view, the purchase within 24 h of that click. Same
    * co-partitioned user_id shape; the bounds are pure integer μs
    * comparisons on the already-joined rows. */
  def q86WindowedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tus")).as("v_ts"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("tus") > col("v_ts") && col("tus") <= col("v_ts") + 2 * hourUs)
      .groupBy(col("user_id")).agg(min(col("tus")).as("c_ts"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("tus") > col("c_ts") && col("tus") <= col("c_ts") + 24 * hourUs)
      .groupBy(col("user_id")).agg(min(col("tus")).as("p_ts"))
    def stageCount(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"), col("n_users"))
    stageCount(v, "1_view")
      .unionByName(stageCount(c, "2_click_2h"))
      .unionByName(stageCount(p, "3_purchase_24h"))
      .orderBy(col("stage"))
  }

  /** q95: CUBE over (event_type × hour-of-day) — all four granularities
    * (cell, per-type, per-hour, grand total) from ONE aggregate pass, the
    * diurnal-traffic matrix next to q68's rollup. Event values are
    * e4-quantized PER ROW before the sum so the double column aggregates
    * as exact integers in any order; distinct users stay integer-exact. */
  def q95Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
        col("user_id"), fixedPoint(col("value"), 4).as("v_e4"))
      .cube(col("event_type"), col("hr"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("v_e4")).as("sum_value_e4"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type_g"),
        coalesce(col("hr").cast("string"), lit("ALL")).as("hr_g"),
        col("gid").cast("long").as("gid"), col("n_events"), col("n_users"),
        col("sum_value_e4"))
      .orderBy(col("gid"), col("event_type_g"), col("hr_g"))

  /** q103: explicit GROUPING SETS — the per-lang, per-source, and cell
    * aggregates WITHOUT the grand total (the set a dashboard actually
    * wants; rollup/cube would compute levels it throws away). Completes
    * the multi-granularity trio next to q68 (rollup) and q95 (cube) —
    * still ONE aggregate pass via Expand. */
  def q103GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"))
      .groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq(col("lang"), col("source"))),
        col("lang"), col("source"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang_g"),
        coalesce(col("source"), lit("ALL")).as("source_g"),
        col("gid").cast("long").as("gid"), col("n_docs"), col("n_tokens"))
      .orderBy(col("gid"), col("lang_g"), col("source_g"))

  /** q104: windowed heavy hitters — top-3 `props.k` values per
    * event-time hour (count desc, key asc), exact. Window starts are
    * epoch-micros. */
  def q104WindowedTopK(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val counts = Tables(spark, dir, "events")
      .select(
        (unix_micros(col("ts")) - unix_micros(col("ts")) % hourUs)
          .as("window_start_us"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      // events without $.k are not heavy-hitter candidates; dropping them
      // also dodges the engines' opposite null placement in the rank
      // tie-break (Spark NULLS FIRST vs DuckDB NULLS LAST on ORDER BY k)
      .filter(col("k").isNotNull)
      .groupBy(col("window_start_us"), col("k"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("window_start_us"))
      .orderBy(col("n").desc, col("k"))
    counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("window_start_us"), col("k"), col("n"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("window_start_us"), col("rank"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q95_cube" -> (q95Cube _),
    "q103_grouping_sets" -> (q103GroupingSets _),
    "q104_windowed_topk" -> (q104WindowedTopK _),
    "q75_supplier_rank" -> (q75SupplierRank _),
    "q83_top_paths" -> (q83TopPaths _),
    "q84_user_growth" -> (q84UserGrowth _),
    "q86_windowed_funnel" -> (q86WindowedFunnel _),
    "q68_rollup" -> (q68Rollup _),
    "q69_pivot" -> (q69Pivot _),
    "q70_moving_avg" -> (q70MovingAvg _),
    "q71_funnel" -> (q71Funnel _),
    "q72_top_tokens" -> (q72TopTokens _),
    "q73_temperature_mix" -> (q73TemperatureMix _),
    "q74_retention" -> (q74Retention _))

  import TextQueries.tokCountSql

  val oracles: Map[String, String] = Map(
    "q86_windowed_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         v AS (SELECT user_id, min(tus) AS v_ts FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(tus) AS c_ts FROM e JOIN v USING (user_id)
           WHERE event_type = 'click' AND tus > v_ts
             AND tus <= v_ts + 7200000000 GROUP BY 1),
         p AS (SELECT e.user_id, min(tus) AS p_ts FROM e JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND tus > c_ts
             AND tus <= c_ts + 86400000000 GROUP BY 1)
         SELECT * FROM (
           SELECT '1_view' AS stage, count(*) AS n_users FROM v
           UNION ALL SELECT '2_click_2h', count(*) FROM c
           UNION ALL SELECT '3_purchase_24h', count(*) FROM p)
         ORDER BY stage""",
    "q83_top_paths" ->
      """WITH r AS (SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step
           FROM events WHERE event_type IS NOT NULL AND event_type <> ''),
         p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY step) AS path
           FROM r WHERE step <= 3 GROUP BY 1)
         SELECT path, count(*) AS n_users FROM p
         GROUP BY 1 ORDER BY n_users DESC, path LIMIT 15""",
    "q84_user_growth" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
           FROM events GROUP BY 1),
         c AS (SELECT strftime(first_day, '%Y-%m-%d') AS day,
             count(*) AS n_new_users FROM f GROUP BY 1)
         SELECT day, n_new_users,
           CAST(sum(n_new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_total_users
         FROM c ORDER BY day""",
    "q75_supplier_rank" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         degc AS (SELECT c, count(*) AS dc FROM e GROUP BY 1),
         degs AS (SELECT s, count(*) AS ds FROM e GROUP BY 1),
         rs1 AS (SELECT s, 1500 + (8500 * sum(10000 // dc)) // 10000 AS r
           FROM e JOIN degc USING (c) GROUP BY 1),
         rc1 AS (SELECT c, 1500 + (8500 * sum(r // ds)) // 10000 AS r
           FROM e JOIN degs USING (s) JOIN rs1 USING (s) GROUP BY 1),
         rs2 AS (SELECT s, 1500 + (8500 * sum(r // dc)) // 10000 AS r
           FROM e JOIN degc USING (c) JOIN rc1 USING (c) GROUP BY 1)
         SELECT s AS s_suppkey, CAST(r AS BIGINT) AS rank_e4
         FROM rs2 ORDER BY rank_e4 DESC, s_suppkey LIMIT 25""",
    "q104_windowed_topk" ->
      raw"""WITH t AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
             CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events),
         c AS (SELECT window_start_us, k, count(*) AS n FROM t
           WHERE k IS NOT NULL GROUP BY 1, 2),
         r AS (SELECT window_start_us, k, n,
             row_number() OVER (PARTITION BY window_start_us
               ORDER BY n DESC, k) AS rank FROM c)
         SELECT window_start_us, k, n, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 3 ORDER BY window_start_us, rank""",
    "q103_grouping_sets" ->
      raw"""WITH t AS (SELECT lang, source, CAST($tokCountSql AS BIGINT) AS n_tok
             FROM documents)
         SELECT coalesce(lang, 'ALL') AS lang_g, coalesce(source, 'ALL') AS source_g,
           CAST(grouping_id(lang, source) AS BIGINT) AS gid,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM t GROUP BY GROUPING SETS ((lang), (source), (lang, source))
         ORDER BY gid, lang_g, source_g""",
    "q95_cube" ->
      raw"""WITH t AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
             user_id, CAST(floor(value*10000 + 0.5) AS BIGINT) AS v_e4
             FROM events)
         SELECT coalesce(event_type, 'ALL') AS event_type_g,
           coalesce(CAST(hr AS VARCHAR), 'ALL') AS hr_g,
           CAST(grouping_id(event_type, hr) AS BIGINT) AS gid,
           count(*) AS n_events, count(DISTINCT user_id) AS n_users,
           CAST(sum(v_e4) AS BIGINT) AS sum_value_e4
         FROM t GROUP BY CUBE(event_type, hr)
         ORDER BY gid, event_type_g, hr_g""",
    "q68_rollup" ->
      raw"""WITH t AS (SELECT lang, source, CAST($tokCountSql AS BIGINT) AS n_tok
             FROM documents)
         SELECT coalesce(lang, 'ALL') AS lang_g, coalesce(source, 'ALL') AS source_g,
           CAST(grouping_id(lang, source) AS BIGINT) AS gid,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM t GROUP BY ROLLUP(lang, source)
         ORDER BY gid, lang_g, source_g""",
    "q69_pivot" ->
      ("SELECT lang, " + (0 to 4).map(i =>
        s"CAST(count(*) FILTER (source = 'src$i') AS BIGINT) AS src$i")
        .mkString(", ") +
        " FROM documents GROUP BY lang ORDER BY lang"),
    "q70_moving_avg" ->
      """WITH h AS (SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type, hour_start, n,
           CAST(floor(CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w * 10000 + 0.5) AS BIGINT) AS ma3_e4
         FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, hour_start""",
    "q72_top_tokens" ->
      raw"""WITH occ AS (SELECT lang, unnest(CASE WHEN len(trim(text))=0 THEN []
             ELSE regexp_split_to_array(trim(text),'\s+') END) AS token FROM documents),
         c AS (SELECT lang, token, count(*) AS n FROM occ GROUP BY 1, 2),
         r AS (SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rnk
           FROM c)
         SELECT lang, CAST(rnk AS BIGINT) AS rnk, token, n
         FROM r WHERE rnk <= 3 ORDER BY lang, rnk""",
    "q73_temperature_mix" ->
      raw"""WITH m AS (SELECT lang, CAST(sum($tokCountSql) AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
         w AS (SELECT lang, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))*10000 + 0.5) AS BIGINT) AS w_e4
           FROM m),
         t AS (SELECT CAST(sum(w_e4) AS BIGINT) AS w_total FROM w)
         SELECT lang, n_tokens, w_e4,
           CAST(floor(CAST(w_e4 AS DOUBLE)/w_total*10000 + 0.5) AS BIGINT) AS share_e4
         FROM w, t ORDER BY lang""",
    "q74_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
         f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1)
         SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(d - cohort_day AS BIGINT) AS day_offset,
           count(DISTINCT user_id) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q71_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         v AS (SELECT user_id, min(tus) AS v_ts FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(tus) AS c_ts FROM e JOIN v USING (user_id)
           WHERE event_type = 'click' AND tus > v_ts GROUP BY 1),
         p AS (SELECT e.user_id, min(tus) AS p_ts FROM e JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND tus > c_ts GROUP BY 1)
         SELECT * FROM (
           SELECT '0_all' AS stage, count(DISTINCT user_id) AS n_users FROM e
           UNION ALL SELECT '1_view', count(*) FROM v
           UNION ALL SELECT '2_click_after_view', count(*) FROM c
           UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
         ORDER BY stage""")
}
