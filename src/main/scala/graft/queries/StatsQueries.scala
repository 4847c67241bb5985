package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.PairCensus

/** Statistics / mining surface: market-basket pair mining, importance-
  * weighted data selection (DSIR-style), fuzzy entity matching, and
  * regression/correlation from integer sufficient statistics. Every query
  * keeps the distributed pass integer-exact (quantize per row or per
  * distinct key BEFORE any sum) so the DuckDB oracle matches bit-for-bit
  * in any accumulation order. */
object StatsQueries {

  /** q112: market-basket pair mining — the 15 most co-purchased part
    * pairs across orders. One shuffle on l_orderkey collects each order's
    * distinct part set (TPC-H orders hold ≤7 items, so the per-row set is
    * tiny and the C(n,2) pair explode is row-local — no self-join, no
    * quadratic shuffle). Pair counts partial-aggregate map-side; the
    * top-15 is a TakeOrdered, not a global sort. At 100 TB the only
    * full-data shuffle is the orderkey groupBy, which any basket query
    * needs; a per-basket item cap would bound pathological baskets. */
  def q112BasketPairs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").cast("long").as("pk"))
      .distinct()
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("pk"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("p1"), y.as("p2")))))).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p1"), col("p2"))
      .limit(15)

  /** q113: importance-weighted data selection (DSIR-style, Xie et al.) —
    * rank documents by affinity to a target domain (source = src0 as the
    * target proxy). Per-token importance ratio r_e6 = ⌊1e6·(n_target+1)/
    * (n_corpus+V)+0.5⌋ (Laplace-smoothed, quantized ONCE per distinct
    * token so doc sums are integer-exact); per-doc score = Σ r_e6 DIV
    * n_tok (length-normalized). Plan: one corpus explode feeds BOTH the
    * vocabulary aggregate (map-side combinable, vocabulary-sized result)
    * and the scoring join; the ratio table joins back on token — a keyed
    * shuffle at worst, broadcast when the vocabulary is small. Top-50 is
    * a TakeOrdered. */
  def q113ImportanceSelect(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("token"))
    val stats = occ.groupBy(col("token")).agg(
      count(lit(1)).as("n_r"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("n_t"))
    val vocab = stats.agg(count(lit(1)).as("v"))
    val ratio = stats.join(broadcast(vocab), lit(true))
      .select(col("token"),
        floor(lit(1e6) * (col("n_t") + lit(1)) / (col("n_r") + col("v")) + lit(0.5))
          .cast("long").as("r_e6"))
    occ.join(ratio, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("r_e6")).as("sum_r"))
      .select(col("doc_id"), col("n_tok"),
        expr("sum_r DIV n_tok").as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(50)
  }

  /** GUARDED set-overlap pair stage over an inverted index — the engine
    * behind [[q114SupplierOverlap]], exposed so the guard is testable on
    * adversarial frames. Input: distinct (`s` member, `p` key) rows;
    * output: the `topK` member pairs by Jaccard over their key sets.
    *
    * Pair work is bounded by Σ_key C(members_per_key, 2) — data-bounded,
    * never corpus², but quadratic in members-per-key: ONE promiscuous key
    * ("everyone supplies this part") summons the blow-up LSH banding's
    * census guard exists to refuse (the r12-verdict fix: q114 was the
    * codebase's one unguarded pair stage).
    *
    * GUARDED BY DEFAULT: an array-free members-per-key [[PairCensus]]
    * (counts only — it can never OOM on the hot key it exists to detect)
    * runs at call time and REFUSES (`PairBudgetExceeded`) when the pair
    * count exceeds `pairBudget`, naming the largest key and
    * `maxMembersPerKey` as the fix. A capped
    * call drops over-cap keys WHOLESALE before pairing (the doc-freq cut:
    * a key shared by everyone carries no similarity signal) and skips the
    * census — its pair mass is bounded by keys · cap². Capped Jaccard is
    * computed over the FILTERED relation (sizes too), so the capped
    * result is itself oracle-expressible (HAVING count(*) <= cap).
    * `pairBudget <= 0` opts in to uncapped-exact explicitly.
    *
    * Plan shape: the input persists ONCE (census, sizes, and both sides
    * of the pair stage read the cache), then pairs STREAM through a
    * co-partitioned self-join on the key — identical exchange subplans,
    * so ReuseExchange shuffles the cache once — and flow straight into
    * the map-side partial aggregation of (s1, s2) inside whole-stage
    * codegen. A groupBy+collect_set+explode shape (one fewer exchange on
    * paper) measured WITHIN NOISE of the join at 10× but buffers each
    * key's member set per row; the join enumerates the same pairs with
    * ZERO per-key buffering, so it is the shape that cannot regress on a
    * hot key regardless of how the guard is configured. Intersections
    * partial-aggregate map-side; sizes broadcast back; top-K is a
    * TakeOrdered. */
  def setOverlapPairs(pairs: DataFrame, topK: Int,
                      maxMembersPerKey: Option[Int] = None,
                      pairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    // Cached once; when the caller hands the relation already hash-
    // partitioned by `p` (supplierParts does — its dedup rides the same
    // exchange), the census, the cap filter, and both pair-join sides all
    // read the cache exchange-free (guide §2.4: operations keyed the same
    // way share one exchange). Un-partitioned inputs stay correct — the
    // join plans its own exchanges as before.
    val sp = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sp.groupBy(col("p")).agg(count(lit(1)).as("n"))
    val kept = maxMembersPerKey match {
      case Some(cap) =>
        // plain join (AQE broadcasts when the under-cap key set is small);
        // over-cap keys are dropped wholesale with their members
        sp.join(counts.filter(col("n") <= cap).select(col("p")), Seq("p"))
      case None =>
        if (pairBudget > 0)
          PairCensus(counts, "n").enforce("setOverlapPairs", pairBudget,
            () => sp.unpersist()) { c =>
            s"${c.pairs} inverted-index candidate pairs exceed " +
              s"the budget $pairBudget (largest key: ${c.hottest} " +
              "members). A promiscuous key (a part everyone supplies) makes " +
              "the pair stage quadratic — pass maxMembersPerKey = Some(cap) " +
              "to drop degenerate keys (they carry no overlap signal), or " +
              "opt in to uncapped-exact explicitly with pairBudget <= 0."
          }
        sp
    }
    val sizes = kept.groupBy(col("s")).agg(count(lit(1)).as("sz"))
    val inter = kept.as("a").join(kept.as("b"),
        col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sizes.withColumnRenamed("s", "s1").withColumnRenamed("sz", "sz1")), "s1")
      .join(broadcast(sizes.withColumnRenamed("s", "s2").withColumnRenamed("sz", "sz2")), "s2")
      .select(col("s1"), col("s2"), col("i").as("n_shared"),
        (col("sz1") + col("sz2") - col("i")).as("n_union"),
        floor(lit(1e4) * col("i") / (col("sz1") + col("sz2") - col("i")) + lit(0.5))
          .cast("long").as("j_e4"))
      .orderBy(col("j_e4").desc, col("s1"), col("s2"))
      .limit(topK)
  }

  /** Distinct (supplier, part) relation, hash-partitioned by the part key
    * in the SAME exchange that dedups it: HashPartitioning(p) satisfies
    * the (s, p)-clustering the distinct needs AND the p-clustering the
    * census / pair join / q198 rollup need, so the relation crosses the
    * wire exactly once (was: one (s,p) exchange for the dedup plus one
    * more into the pair join). Keys ride as ints (narrower shuffle rows,
    * guide §2.3 — suppkey/partkey are 32-bit at any TPC-H scale here);
    * the query outputs cast back to long so schemas are unchanged. */
  private def supplierParts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_suppkey").cast("int").as("s"),
        col("l_partkey").cast("int").as("p"))
      .repartition(col("p"))
      .distinct()

  /** q114: supplier portfolio similarity — the 20 supplier pairs whose
    * supplied-part SETS overlap most (Jaccard), the "substitutable
    * vendor" report, through the census-guarded [[setOverlapPairs]].
    * j_e4 quantizes a single exact integer division — engines agree.
    *
    * Budget sizing: this workload's pair mass is LINEAR in data (keys
    * multiply, members-per-key stays data-bounded: measured Σ C(k,2) =
    * 8.2k/661k/8.7M/87M at sf0.001/0.01/0.1/1.0, max members-per-key 52)
    * so the call budget is 500M — an order above the measured 10×-scale
    * mass, still refusing the QUADRATIC regime the census exists for
    * (one 32k-member hot key blows it alone). The default 50M suits the
    * dedup candidate stages; a relational report owns its own number.
    * q197 is the capped production variant (the q126 pattern) and q198
    * oracle-pins the census arithmetic itself. */
  def q114SupplierOverlap(spark: SparkSession, dir: String): DataFrame =
    setOverlapPairs(supplierParts(spark, dir), topK = 20,
      pairBudget = 500L * 1000 * 1000)
      .select(col("s1").cast("long").as("s1"), col("s2").cast("long").as("s2"),
        col("n_shared"), col("n_union"), col("j_e4"))

  /** q197: q114 through the doc-freq cap (maxMembersPerKey = 24, the
    * q126-capped-chunk pattern applied to the relational family) — the
    * production formulation for corpora where the uncapped pair mass is
    * not worth paying: parts supplied by > 24 suppliers are commodity
    * noise carrying no substitutability signal, and dropping them
    * WHOLESALE bounds the stage at keys · cap² with no census action.
    * Jaccard is computed over the filtered relation (sizes included), so
    * the whole thing stays oracle-expressible: HAVING count(*) <= 24.
    * Binding at sf0.1/sf1.0 (max members 52), vacuous at sf0.001 (max
    * 10) — same SQL everywhere. */
  def q197CappedSupplierOverlap(spark: SparkSession, dir: String): DataFrame =
    setOverlapPairs(supplierParts(spark, dir), topK = 20,
      maxMembersPerKey = Some(24))
      .select(col("s1").cast("long").as("s1"), col("s2").cast("long").as("s2"),
        col("n_shared"), col("n_union"), col("j_e4"))

  /** q198: the pair-stage census ITSELF, oracle-pinned — the exact
    * integers [[setOverlapPairs]]'s refusal decision reads (key count,
    * Σ C(members, 2), hottest key). The audit a 100 TB operator runs
    * BEFORE q114 to size the budget: one array-free aggregate, no pair
    * ever materializes. */
  def q198OverlapPairCensus(spark: SparkSession, dir: String): DataFrame =
    supplierParts(spark, dir)
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"),
        expr("coalesce(sum(n * (n - 1)), 0L) DIV 2").as("n_pairs"),
        coalesce(max(col("n")), lit(0L)).as("max_members"))

  /** Shared sufficient-statistics frame for q115/q116: per l_returnflag,
    * integer sums of e0-quantized quantity and e2-quantized price. Each
    * row quantizes BEFORE the aggregate and the second-moment products
    * are taken in decimal(19,0) — so the ACCUMULATOR is decimal(38,0),
    * not long, from the first row on. (Long products summed THEN cast
    * wrap near 1e19: Σyq² at the 10× bench scale is ~1.5e18 per flag
    * and crossed the line under ANSI overflow checking — the r12 sf1.0
    * sweep caught exactly this. Headroom now: n·Σxy at 10^12 rows
    * ≈ 1e33, inside decimal(38).) */
  private def priceQtyMoments(spark: SparkSession, dir: String): DataFrame = {
    val dx = col("xq").cast("decimal(19,0)")
    val dy = col("yq").cast("decimal(19,0)")
    Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        floor(col("l_quantity") + lit(0.5)).cast("long").as("xq"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("yq"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("xq")).cast("decimal(38,0)").as("sx"),
        sum(col("yq")).cast("decimal(38,0)").as("sy"),
        sum(dx * dx).cast("decimal(38,0)").as("sxx"),
        sum(dy * dy).cast("decimal(38,0)").as("syy"),
        sum(dx * dy).cast("decimal(38,0)").as("sxy"))
  }

  /** q115: grouped linear regression — price-per-unit line (extendedprice
    * ~ quantity) per returnflag, from ONE pass of integer sufficient
    * statistics. slope = (n·Σxy−Σx·Σy)/(n·Σxx−Σx²) and the intercept are
    * computed as integer DIV over exact decimals — the whole query is
    * float-free, so engines agree bit-for-bit. This is the
    * sufficient-stats pattern that scales: no per-group iteration, one
    * map-side-combinable aggregate, a handful of result rows. */
  def q115GroupedRegression(spark: SparkSession, dir: String): DataFrame =
    priceQtyMoments(spark, dir)
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * num) DIV den AS LONG)")
          .as("slope_e6"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * (sy * den - num * sx)) DIV (n * den) AS LONG)")
          .as("intercept_e6"))
      .orderBy(col("l_returnflag"))

  /** q116: Pearson correlation (quantity vs extendedprice) per returnflag
    * from the same one-pass moments. The single float step is the final
    * corr = num/√(denx·deny) on driver-scale rows: num and the two
    * denominators are exact integers, √ is IEEE-correctly-rounded in both
    * engines, and the e6 quantization absorbs nothing smaller than the
    * shared rounding. */
  def q116CorrelationMatrix(spark: SparkSession, dir: String): DataFrame =
    priceQtyMoments(spark, dir)
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        floor(lit(1e6) * col("num").cast("double") /
          (sqrt(col("dx").cast("double")) * sqrt(col("dy").cast("double"))) + lit(0.5))
          .cast("long").as("corr_e6"))
      .orderBy(col("l_returnflag"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_basket_pairs" -> (q112BasketPairs _),
    "q113_importance_select" -> (q113ImportanceSelect _),
    "q114_supplier_overlap" -> (q114SupplierOverlap _),
    "q115_grouped_regression" -> (q115GroupedRegression _),
    "q116_correlation" -> (q116CorrelationMatrix _),
    "q197_capped_supplier_overlap" -> (q197CappedSupplierOverlap _),
    "q198_overlap_pair_census" -> (q198OverlapPairCensus _))

  val oracles: Map[String, String] = Map(
    "q112_basket_pairs" ->
      """WITH ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
           FROM ip a JOIN ip b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey)
         SELECT p1, p2, count(*) AS n FROM p
         GROUP BY 1, 2 ORDER BY n DESC, p1, p2 LIMIT 15""",
    "q113_importance_select" ->
      raw"""WITH occ AS (SELECT doc_id, source,
             unnest(CASE WHEN len(trim(text))=0 THEN []
               ELSE regexp_split_to_array(trim(text),'\s+') END) AS token
             FROM documents),
         st AS (SELECT token, count(*) AS n_r,
             count(*) FILTER (source = 'src0') AS n_t FROM occ GROUP BY 1),
         v AS (SELECT count(*) AS v FROM st),
         r AS (SELECT token,
             CAST(floor(1e6 * (n_t + 1) / (n_r + v) + 0.5) AS BIGINT) AS r_e6
           FROM st, v),
         d AS (SELECT doc_id, count(*) AS n_tok, sum(r_e6) AS sum_r
           FROM occ JOIN r USING (token) GROUP BY 1)
         SELECT doc_id, n_tok, CAST(sum_r // n_tok AS BIGINT) AS score_e6
         FROM d ORDER BY score_e6 DESC, doc_id LIMIT 50""",
    "q114_supplier_overlap" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
         sz AS (SELECT s, count(*) AS sz FROM sp GROUP BY 1),
         i AS (SELECT a.s AS s1, b.s AS s2, count(*) AS i
           FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
           GROUP BY 1, 2)
         SELECT s1, s2, i AS n_shared, za.sz + zb.sz - i AS n_union,
           CAST(floor(1e4 * i / (za.sz + zb.sz - i) + 0.5) AS BIGINT) AS j_e4
         FROM i JOIN sz za ON za.s = s1 JOIN sz zb ON zb.s = s2
         ORDER BY j_e4 DESC, s1, s2 LIMIT 20""",
    "q115_grouped_regression" ->
      """WITH q AS (SELECT l_returnflag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS xq,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yq
           FROM lineitem),
         m AS (SELECT l_returnflag, count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
             sum(xq*xq) AS sxx, sum(yq*yq) AS syy, sum(xq*yq) AS sxy
           FROM q GROUP BY 1),
         d AS (SELECT l_returnflag, n, sx, sy,
             n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM m)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           CAST((1000000 * num) // den AS BIGINT) AS slope_e6,
           CAST((1000000 * (sy * den - num * sx)) // (n * den) AS BIGINT) AS intercept_e6
         FROM d ORDER BY l_returnflag""",
    "q116_correlation" ->
      """WITH q AS (SELECT l_returnflag,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS xq,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yq
           FROM lineitem),
         m AS (SELECT l_returnflag, count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
             sum(xq*xq) AS sxx, sum(yq*yq) AS syy, sum(xq*yq) AS sxy
           FROM q GROUP BY 1)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           CAST(floor(1e6 * CAST(n*sxy - sx*sy AS DOUBLE) /
             (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
             + 0.5) AS BIGINT) AS corr_e6
         FROM m ORDER BY l_returnflag""",
    "q197_capped_supplier_overlap" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
         ok AS (SELECT p FROM sp GROUP BY 1 HAVING count(*) <= 24),
         k AS (SELECT s, sp.p FROM sp JOIN ok ON sp.p = ok.p),
         sz AS (SELECT s, count(*) AS sz FROM k GROUP BY 1),
         i AS (SELECT a.s AS s1, b.s AS s2, count(*) AS i
           FROM k a JOIN k b ON a.p = b.p AND a.s < b.s
           GROUP BY 1, 2)
         SELECT s1, s2, i AS n_shared, za.sz + zb.sz - i AS n_union,
           CAST(floor(1e4 * i / (za.sz + zb.sz - i) + 0.5) AS BIGINT) AS j_e4
         FROM i JOIN sz za ON za.s = s1 JOIN sz zb ON zb.s = s2
         ORDER BY j_e4 DESC, s1, s2 LIMIT 20""",
    "q198_overlap_pair_census" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
         c AS (SELECT p, count(*) AS n FROM sp GROUP BY 1)
         SELECT count(*) AS n_keys,
           CAST(coalesce(sum(n * (n - 1)), 0) // 2 AS BIGINT) AS n_pairs,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_members
         FROM c""")
}
