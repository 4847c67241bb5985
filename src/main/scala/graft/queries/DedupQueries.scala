package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, PairCensus}

/** Near-duplicate detection queries over `documents`: the MinHash→LSH→
  * Jaccard-verify pipeline and banded SimHash. Oracles recompute the same
  * md5-derived hashes in DuckDB, so candidate sets and scores match exactly.
  */
object DedupQueries {

  private val K = 16 // minhash width
  private val B = 4  // LSH bands (r = K/B = 4 rows per band)
  private val N = 5  // shingle length

  /** q20: MinHash(16) → LSH(4×4) candidates → exact-Jaccard verify ≥ 0.5.
    * The at-scale near-dup path: no all-pairs stage exists in the plan.
    * Opts in to UNCAPPED-exact (budget guard off): this formulation is
    * oracle-pinned across scales including the sf1.0 probe — the guarded
    * default would refuse rather than run a degenerate corpus, which is
    * the library contract but not this query's. */
  def q20LshNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(Tables(spark, dir, "documents"), "doc_id", "text",
      k = K, b = B, shingleN = N, minJaccard = 0.5,
      candidatePairBudget = 0L)
      .orderBy(col("a_id"), col("b_id"))

  /** q154: empirical LSH banding S-curve — exact shingle Jaccard of every
    * pair among a 1-in-4 deterministic doc sample, binned by Jaccard
    * decile, against the fraction the production (k=16, b=4) banding
    * emits as candidates: the measured recall/false-positive profile of
    * q20's candidate stage, completing the tuning-curve family (q147
    * vocab sizes, q148 IVF probes, q153 Hamming shortlist). The mod-4
    * id-hash sample holds the exact side at s²/2 pairs — at 100 TB the
    * mod is the budget knob (see [[Dedup.bandingRecallCurve]]). */
  def q154LshScurve(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandingRecallCurve(Tables(spark, dir, "documents"), "doc_id",
      "text", k = K, b = B, shingleN = N, sampleMod = 4)
      .orderBy(col("bin"))

  /** q171: LSH banding auto-tune — the CLOSED-FORM complement of q154:
    * per target Jaccard threshold τ ∈ {0.3, 0.5, 0.8}, the (bands,
    * rows_per_band) under the k=16 hash budget whose theoretical candidacy
    * S-curve best approximates the ideal step at τ (integer-exact |p−step|
    * grid sum, e4 arithmetic, truncating-division power chains both
    * engines replay identically). q154 MEASURES a chosen banding after
    * signing; q171 PICKS one before — corpus-independent, parameter-scale,
    * costs the same at 100 TB as at 100 rows. */
  def q171BandingPlan(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandingPlan(spark, hashBudget = K, tausE4 = Seq(3000L, 5000L, 8000L))
      .orderBy(col("tau_e4"))

  /** q173: the tuner COMPOSED with the production pipeline — near-dup
    * pairs at the banding [[Dedup.bandingPlan]] picks for τ=0.5 under the
    * k=16 budget (5 bands × 3 rows — more bands than the hand-picked 4×4,
    * trading verify volume for recall at the 0.5 knee exactly as the
    * S-curve says), then the PROVEN q20 chain at that banding. The q122
    * auto≡manual pattern applied to LSH: the oracle replays the chain at
    * the planned (b, r), so a drifted plan hash-fails the gate. The plan
    * read is one 3-long driver row (registry-scale); everything after is
    * q20's scale shape at (k=15, b=5). */
  def q173AutoNearDup(spark: SparkSession, dir: String): DataFrame = {
    val plan = Dedup.bandingPlan(spark, hashBudget = K, tausE4 = Seq(5000L))
      .select(col("bands"), col("rows_per_band")).head()
    val (b, r) = (plan.getLong(0).toInt, plan.getLong(1).toInt)
    // guarded DEFAULT deliberately kept: the τ=0.5-optimal banding has a
    // fatter low-j tail than 4×4 (that is the trade the knee buys), and on
    // this deliberately low-entropy fixture (background Jaccard ≈ 0.45,
    // BENCH.md) the sf1.0 census reads 69.5M projected pairs — the budget
    // guard refuses naming the fix, which IS the operator's scale
    // contract: a measured ~8 min verify stage is exactly what the guard
    // exists to stop (uncapped measured once, BENCH.md round 10). Gate
    // holds tri-scale ≤ sf0.1 where the census is in budget.
    Dedup.nearDupPairs(Tables(spark, dir, "documents"), "doc_id", "text",
      k = b * r, b = b, shingleN = N, minJaccard = 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q181: census-aware banding auto-tune — q171's closed-form pick made
    * GUARD-COMPATIBLE: per τ ∈ {0.3, 0.5, 0.8}, the (bands, rows_per_band)
    * under the k=16 budget minimizing step error SUBJECT TO the banding's
    * projected candidate-pair mass on THIS corpus fitting the production
    * 50M budget ([[Dedup.bandingCensus]]: the 1-in-4 id-hash sample's
    * bucket census × mod² — the exact quantity lshCandidatePairs' guard
    * measures at run time). Round 10's verdict named the gap: q171's
    * τ=0.5 pick (5×3) projects 69.5M pairs at sf1.0 and the guard refuses
    * it; this tuner picks the best banding that can actually RUN. Cost is
    * one sampled signing scan + parameter-scale integer arithmetic —
    * both engines replay identical chains. */
  def q181BudgetedBandingPlan(spark: SparkSession, dir: String): DataFrame =
    Dedup.bandingPlanBudgeted(Tables(spark, dir, "documents"), "doc_id",
      "text", hashBudget = K, tausE4 = Seq(3000L, 5000L, 8000L),
      shingleN = N, sampleMod = 4)
      .orderBy(col("tau_e4"))

  /** q182: the budgeted tuner COMPOSED with the production pipeline —
    * q173's shape with the census constraint closed: near-dup pairs at
    * the banding [[Dedup.bandingPlanBudgeted]] picks for τ=0.5, run under
    * the DEFAULT candidate-pair guard. Where q173 documents the refusal
    * (its pure-step-error 5×3 pick is over budget at sf1.0), q182's pick
    * is budget-feasible BY CONSTRUCTION, so the composition runs at every
    * scale — the oracle replays the census + argmin + chain, so a drifted
    * pick hash-fails. At ≤ sf0.1 every banding fits the budget and the
    * pick equals q171's (5×3); at sf1.0 the census excludes it and the
    * tuner lands on the best feasible banding instead of throwing. */
  def q182BudgetAutoNearDup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val docs = Tables(spark, dir, "documents")
    // ONE signing scan at the full hash budget feeds BOTH stages: the
    // census samples rows off the signed frame (signatures are prefix-
    // stable in k, so the picked b×r banding reads mh_0..mh_{br-1} of the
    // same frame) — previously the census signed a mod-4 sample AND the
    // pair stage re-signed the full corpus from text
    val sig = Dedup.signDocuments(docs, "doc_id", "text", k = K, shingleN = N)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val plan = Dedup.bandingPlanBudgetedFromSignatures(sig, "doc_id",
        hashBudget = K, tausE4 = Seq(5000L), sampleMod = 4)
        .select(col("bands"), col("rows_per_band")).head()
      val (b, r) = (plan.getLong(0).toInt, plan.getLong(1).toInt)
      // eagerly checkpointed — safe to unpersist the signatures on return
      Dedup.nearDupPairsFromSignatures(sig, "doc_id",
        k = b * r, b = b, minJaccard = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    } finally sig.unpersist()
  }

  /** q178: banding calibration — q154's MEASURED catch rate per Jaccard
    * bin joined against the THEORETICAL 1−(1−j^r)^b at each bin midpoint
    * (the same truncating-division power chains q171 optimizes over,
    * frozen at the production 4×4): gap_e4 per bin is the model-vs-engine
    * audit that tells you whether trusting [[Dedup.bandingPlan]]'s
    * closed-form choice on THIS corpus is safe, or whether correlated
    * shingles (boilerplate) bend the real curve away from the independence
    * assumption. Costs one q154 run plus a row-local arithmetic column. */
  def q178BandingCalibration(spark: SparkSession, dir: String): DataFrame = {
    val r = K / B
    val predicted = expr(
      s"""10000L - aggregate(sequence(1L, ${B}L), 10000L, (qa, xb) ->
         qa * (10000L - aggregate(sequence(1L, ${r}L), 10000L, (ja, xr) ->
           ja * (lo_e4 + 500L) div 10000L)) div 10000L)""")
    Dedup.bandingRecallCurve(Tables(spark, dir, "documents"), "doc_id",
      "text", k = K, b = B, shingleN = N, sampleMod = 4)
      .withColumn("predicted_e4", predicted)
      .select(col("bin"), col("lo_e4"), col("n_pairs"),
        col("catch_e4").as("measured_e4"), col("predicted_e4"),
        abs(col("catch_e4") - col("predicted_e4")).as("gap_e4"))
      .orderBy(col("bin"))
  }

  /** q186: MinHash estimator calibration — the "choose k" audit under
    * the banding tuners: per exact-Jaccard decile over the q154 sample's
    * all-pairs frame, the mean absolute error of the k=16 signature's
    * Jaccard estimate (matching-minhash fraction). q171/q181 pick (b, r)
    * GIVEN k; q178 audits the independence assumption; this measures the
    * estimator variance itself on THIS corpus — a high-j bin whose MAE
    * rivals the bin width says raise k before trusting any banding.
    * Completes the LSH tuning family (pick → calibrate → estimator). */
  def q186MinhashEstimator(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstimatorCurve(Tables(spark, dir, "documents"), "doc_id",
      "text", k = K, shingleN = N, sampleMod = 4)
      .orderBy(col("bin"))

  /** q192: q186's estimator calibration over the mod-32 id-hash sample —
    * the committed sf1.0 hash evidence for the estimator-audit class
    * (q186's mod-4 oracle DNF-timeouts at 2400 s at sf1.0; the 64×
    * smaller all-pairs frame is DuckDB-feasible — the q164/q183/q184
    * sampled-surrogate pattern). Same code path, coarser sample; at
    * 100 TB the mod is the audit's budget knob. */
  def q192SampledMinhashEstimator(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstimatorCurve(Tables(spark, dir, "documents"), "doc_id",
      "text", k = K, shingleN = N, sampleMod = 32)
      .orderBy(col("bin"))

  /** q156: near-dup source matrix — q20's verified pairs rolled up by
    * UNORDERED source pair: how many near-dup pairs cross each (src, src)
    * cell and their mean Jaccard. The near-dup complement of q127's
    * verbatim-overlap matrix (theta over fingerprints): q127 answers
    * "same text?", q156 answers "same text MODULO small edits?" — the
    * mirror-site / syndicated-content / cross-crawl provenance signal
    * that decides which source to drop when two feeds carry the same
    * articles. Diagonal cells are within-source crawl duplication.
    *
    * Scale shape: q20's pair cost plus two narrow uniform-id joins of
    * (doc_id, source) onto the pair frame (source side NOT broadcast-
    * hinted — pair membership can be a large corpus fraction at crawl
    * scale; AQE broadcasts when measured small) and a sources²-bounded
    * aggregate. Mean is one integer DIV — engine-exact. */
  def q156NearDupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      k = K, b = B, shingleN = N, minJaccard = 0.5, candidatePairBudget = 0L)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard_e4"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jaccard_e4")).as("s"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        expr("s div n_pairs").as("mean_jaccard_e4"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q157: edit-distance near-dup pairs — q20's LSH candidates (capped at
    * q126's bucket 24, REQUIRED: the DP is O(len²) per pair) re-verified
    * by normalized Levenshtein similarity ≥ 0.8 instead of shingle
    * Jaccard: the verify for character-noise near-dups (OCR damage,
    * mojibake, typo edits) that shred 5-gram shingles — same bands,
    * complementary distance. Engine runs the bounded early-exit DP;
    * the oracle's unbounded DP + filter is result-identical. */
  def q157EditNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.editSimilarityPairs(Tables(spark, dir, "documents"), "doc_id",
      "text", k = K, b = B, shingleN = N, minSimE4 = 8000L)
      .orderBy(col("a_id"), col("b_id"))

  /** q161: directional containment pairs — q38's winnowing candidates
    * scored by |A∩B|/|A| and |A∩B|/|B| instead of the symmetric shared
    * count: a quote embedded in a long page has tiny Jaccard but
    * containment ≈ 1 on the quote side. The subset/quote/partial-
    * plagiarism detector; cut at max-side containment ≥ 0.6. */
  def q161ContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables(spark, dir, "documents"), "doc_id", "text",
      minContainE4 = 6000L)
      .orderBy(col("a_id"), col("b_id"))

  /** q166: q161's containment search served from a PERSISTED winnowing
    * fingerprint store — the corpus streams in as two batches (even ids,
    * then odd), each batch fingerprinted ONCE and appended
    * ([[graft.streaming.StreamingWinnow]]); the containment query runs
    * over the accumulated store without re-reading any text. Results
    * must be row-identical to the ad-hoc path (same oracle SQL as q161),
    * proving the store/serve round-trip loses nothing — including the
    * retroactive stop-fingerprint effect, since the doc-frequency cut
    * applies at query time over the union (the q120/q128/q129/q130
    * store-parity pattern, extended to the winnowing family). */
  def q166ContainmentStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val whDir = java.nio.file.Files.createTempDirectory("graft_q166_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    graft.streaming.StreamingWinnow.ingestBatch(wh, "dedup", "wn",
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    graft.streaming.StreamingWinnow.ingestBatch(wh, "dedup", "wn",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    QueryUtil.withTempWarehouse(whDir) {
      graft.streaming.StreamingWinnow.containmentPairs(wh, "dedup", "wn",
        "doc_id", minContainE4 = 6000L)
        .orderBy(col("a_id"), col("b_id"))
    }
  }

  /** q167: q38's winnowing search served from the SAME persisted
    * fingerprint store as q166 — built once (two streamed batches),
    * queried through both surfaces: symmetric shared-count pairs here,
    * directional containment there. Results row-identical to the ad-hoc
    * q38 (same oracle SQL) — one store, both query shapes, text read
    * zero times at serve. */
  def q167WinnowingStore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val whDir = java.nio.file.Files.createTempDirectory("graft_q167_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    graft.streaming.StreamingWinnow.ingestBatch(wh, "dedup", "wn",
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    graft.streaming.StreamingWinnow.ingestBatch(wh, "dedup", "wn",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    QueryUtil.withTempWarehouse(whDir) {
      graft.streaming.StreamingWinnow.winnowingPairs(wh, "dedup", "wn", "doc_id")
        .orderBy(col("a_id"), col("b_id"))
    }
  }

  /** q21: 60-bit SimHash near-dup pairs, hamming ≤ 3, banded 4×15 bits. */
  def q21SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
      Dedup.simhash(Tables(spark, dir, "documents"), "doc_id", "text"),
      "doc_id", maxHamming = 3)
      .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("a_id"), col("b_id"))

  /** q38: winnowing-fingerprint containment pairs (n=5, w=4, ≥10 shared,
    * stop-fingerprints above doc-freq 30 dropped). */
  def q38WinnowingPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowingPairs(Tables(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("a_id"), col("b_id"))

  /** q99: incremental near-dup on the oracle surface — the even-id half of
    * the corpus is the already-signed prior batch (its signatures come
    * from storage, never re-derived from text), the odd half is the
    * arriving batch; output is every verified pair touching ≥ 1 new doc.
    * The oracle is q20's full-corpus derivation restricted to
    * new-touching pairs — pinning that per-batch cost O(batch) loses NO
    * pairs vs re-running the whole corpus. */
  def q99IncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // persisted: the premise is "prior signatures come from STORAGE" — a
    // lazy text-derived frame would re-SIGN the prior corpus on every
    // action the incremental path runs (two census guards + the verify
    // job's two branches ≈ 4 signings); the cache makes the fixture match
    // the premise physically. pairs materialize eagerly inside the call
    // (localCheckpoint), so the release below is safe.
    val prior = Dedup.signDocuments(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // uncapped-exact opt-in (the q20/q111 stance): this query pins the
    // incremental ≡ full-corpus EQUIVALENCE, which q20's uncapped contract
    // defines; the budget guard's refusal behavior is pinned by
    // DedupSimSpec and exercised on the bench surface by q36/q41's
    // guarded defaults
    val pairs =
      try Dedup.nearDupPairsIncremental(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", prior,
        k = K, b = B, shingleN = N, minJaccard = 0.5,
        candidatePairBudget = 0L)
      finally prior.unpersist()
    pairs.orderBy(col("a_id"), col("b_id"))
  }

  /** q111: passage-level near-dup — q20's MinHash→LSH→Jaccard pipeline
    * over TOKEN CHUNKS (32-token windows, stride 24) instead of whole
    * documents, so a shared near-verbatim passage flags even when the
    * documents around it differ completely (whole-doc Jaccard dilutes a
    * short shared span below any threshold). Chunk ids pack as
    * doc_id·100000 + chunk_idx; the chunk explode is row-local, then the
    * pipeline is exactly q20's — no all-pairs stage at any granularity. */
  def q111ChunkNearDup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Chunker.tokenChunks(
      Tables(spark, dir, "documents"), "doc_id", "text", size = 32, stride = 24)
      .select((col("doc_id") * lit(100000L) + col("chunk_idx")).as("doc_id"),
        col("chunk").as("text"))
    // uncapped-exact opt-in: q111 IS the measured quadratic-on-low-entropy
    // formulation (BENCH.md sf1.0 probe) kept on the surface deliberately;
    // q126 is the guarded production variant
    Dedup.nearDupPairs(chunks, "doc_id", "text",
      k = K, b = B, shingleN = N, minJaccard = 0.5,
      candidatePairBudget = 0L)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q119: cross-document repeated substring detection (exact-substring
    * dedup, Lee et al. 2022) — per doc, how many 20-char spans also occur
    * verbatim in ≥ 2 docs: the boilerplate/license/template text that
    * doc- and passage-level dedup miss. Only docs with a repeated span
    * are reported (the interesting rows). */
  def q119RepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpanStats(
      Tables(spark, dir, "documents"), "doc_id", "text", n = 20)
      .filter(col("n_repeated") > 0)
      .orderBy(col("doc_id"))

  /** q146: boilerplate span census — the top 100 most widespread 20-char
    * spans (distinct-doc count, occurrences, exemplar text): the triage
    * report over the q119 exact-substring family, and the explicit owner
    * of the duplicate mass q126's bucket cap drops (COVERAGE.md's recall
    * contract). Ranking keys are portable integers (n_docs, n_occ,
    * exemplar coords) — the engine's rolling hash and the oracle's md5
    * partition grams identically without ever ordering anything. */
  def q146BoilerplateCensus(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateCensus(
      Tables(spark, dir, "documents"), "doc_id", "text", n = 20, topN = 100)

  /** q126: q111's chunk-level near-dup with the LSH bucket cap (24) — the
    * low-entropy-robust formulation. The sf1.0 scale probe (BENCH.md)
    * measured uncapped chunk candidates growing ~quadratically on this
    * fixture (background 5-gram Jaccard ≈ 0.45 from the 31-token
    * vocabulary): 5k → 635k → 58.4M band pairs across the three scales,
    * while cap 24 holds the growth linear (2.5k → 52k → 662k). Dropped
    * buckets are wholesale-boilerplate groups the exact-substring and
    * repetition operators (q119/q67) own; the cap is a deterministic
    * census predicate, so the oracle replays it as HAVING count(*) <= 24. */
  def q126CappedChunkNearDup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Chunker.tokenChunks(
      Tables(spark, dir, "documents"), "doc_id", "text", size = 32, stride = 24)
      .select((col("doc_id") * lit(100000L) + col("chunk_idx")).as("doc_id"),
        col("chunk").as("text"))
    Dedup.nearDupPairs(chunks, "doc_id", "text",
      k = K, b = B, shingleN = N, minJaccard = 0.5,
      maxBucketSize = Some(24))
      .orderBy(col("a_id"), col("b_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q111_chunk_near_dup" -> (q111ChunkNearDup _),
    "q126_capped_chunk_near_dup" -> (q126CappedChunkNearDup _),
    "q20_lsh_near_dup" -> (q20LshNearDup _),
    "q154_lsh_scurve" -> (q154LshScurve _),
    "q171_banding_plan" -> (q171BandingPlan _),
    "q173_auto_near_dup" -> (q173AutoNearDup _),
    "q181_budgeted_banding_plan" -> (q181BudgetedBandingPlan _),
    "q182_budget_auto_near_dup" -> (q182BudgetAutoNearDup _),
    "q186_minhash_estimator" -> (q186MinhashEstimator _),
    "q192_sampled_minhash_estimator" -> (q192SampledMinhashEstimator _),
    "q178_banding_calibration" -> (q178BandingCalibration _),
    "q156_near_dup_source_matrix" -> (q156NearDupSourceMatrix _),
    "q157_edit_near_dup" -> (q157EditNearDup _),
    "q99_incremental_near_dup" -> (q99IncrementalNearDup _),
    "q21_simhash_pairs" -> (q21SimhashPairs _),
    "q38_winnowing_pairs" -> (q38WinnowingPairs _),
    "q161_containment_pairs" -> (q161ContainmentPairs _),
    "q166_containment_store" -> (q166ContainmentStore _),
    "q167_winnowing_store" -> (q167WinnowingStore _),
    "q119_repeated_spans" -> (q119RepeatedSpans _),
    "q146_boilerplate_census" -> (q146BoilerplateCensus _))

  // ---- oracle SQL (generated to mirror the Scala parameters) ----

  // mirrors Dedup.signatureFrame: row-local shingling, one md5 per shingle,
  // k affine minima via list_min/list_transform — no unnest/group stage.
  private def sigColsFor(k: Int) = (0 until k).map(i =>
    s"list_min(list_transform(hs, x -> ((x % ${Dedup.MinhashP20}) * ${Dedup.affineA(i)}" +
      s" + ${Dedup.affineB(i)}) % ${Dedup.MinhashP31})) AS mh_$i").mkString(", ")

  // q186/q192: q154-style sample + all-pairs exact side, est = matching-
  // minhash fraction (K-term equality sum), MAE per exact-Jaccard decile —
  // parameterized by the id-hash sample modulus (q186 runs the production
  // mod 4; q192 is the mod-32 sf1.0-feasible surrogate)
  private def minhashEstimatorSqlFor(mod: Int): String = {
    val matchSum = (0 until K).map(i =>
      s"CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END").mkString(" + ")
    raw"""WITH sample AS (SELECT doc_id, text FROM documents
         WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % $mod = 0),
       ${nearDupPairsCtesFrom("sample")},
       ids AS (SELECT doc_id FROM sig),
       uni AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM ids a JOIN ids b ON a.doc_id < b.doc_id),
       usc AS (SELECT u.a_id, u.b_id,
           len(list_intersect(sa.shs, sb.shs)) AS inter,
           sa.sz AS sz_a, sb.sz AS sz_b, ($matchSum) AS m
         FROM uni u
         JOIN sig sa ON sa.doc_id = u.a_id
         JOIN sig sb ON sb.doc_id = u.b_id),
       uj AS (SELECT a_id, b_id,
           CAST(floor(inter/(sz_a + sz_b - inter)*10000 + 0.5) AS BIGINT) AS jaccard_e4,
           CAST(m * 10000 // $K AS BIGINT) AS est_e4
         FROM usc),
       e AS (SELECT least(jaccard_e4 // 1000, 9) AS bin,
           abs(est_e4 - jaccard_e4) AS err FROM uj)
       SELECT CAST(bin AS BIGINT) AS bin, CAST(bin * 1000 AS BIGINT) AS lo_e4,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(err) // count(*) AS BIGINT) AS mae_e4
       FROM e GROUP BY bin ORDER BY bin"""
  }

  private def bandSelectsFor(k: Int, b: Int) = (0 until b).map { j =>
    val cc = (0 until k / b).map(i => s"CAST(mh_${j * (k / b) + i} AS VARCHAR)").mkString("||'|'||")
    s"SELECT doc_id, $j AS band, md5($cc) AS bh FROM sig"
  }.mkString(" UNION ALL ")


  /** The full MinHash→LSH→Jaccard pair derivation as a reusable CTE chain
    * ending in `pairs(a_id, b_id, jaccard_e4)` — shared by the q20 oracle,
    * the q41 connected-components oracle, and (over a chunk base CTE)
    * q111. `base` must provide (doc_id, text). */
  private[queries] def nearDupPairsCtesFrom(base: String,
                                            maxBucket: Option[Int] = None,
                                            k: Int = K, b: Int = B): String = {
    // bucket-capped variant: drop (band, bh) buckets over the cap before
    // pairing — mirrors Dedup.lshCandidatePairs(maxBucketSize)
    val bandSel = bandSelectsFor(k, b)
    val bandsCtes = maxBucket match {
      case Some(cap) =>
        raw"""bands0 AS ($bandSel),
         bok AS (SELECT band, bh FROM bands0 GROUP BY band, bh HAVING count(*) <= $cap),
         bands AS (SELECT b0.doc_id, b0.band, b0.bh FROM bands0 b0 JOIN bok USING (band, bh))"""
      case None => s"bands AS ($bandSel)"
    }
    raw"""d AS (SELECT doc_id, CASE WHEN len(text) >= $N
           THEN list_distinct([substr(text, i, $N) for i in range(1, len(text)-${N - 2})])
           ELSE [text] END AS shs0 FROM $base),
         h AS (SELECT doc_id, len(shs0) AS sz,
             list_transform(shs0, s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT)) AS hs
           FROM d),
         sig AS (SELECT doc_id, sz, list_distinct(hs) AS shs, ${sigColsFor(k)} FROM h),
         $bandsCtes,
         cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         scored AS (SELECT c.a_id, c.b_id,
             len(list_intersect(sa.shs, sb.shs)) AS inter, sa.sz AS sz_a, sb.sz AS sz_b
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.a_id
           JOIN sig sb ON sb.doc_id = c.b_id),
         pairs AS (SELECT a_id, b_id,
             CAST(floor(inter/(sz_a + sz_b - inter)*10000 + 0.5) AS BIGINT) AS jaccard_e4
           FROM scored)"""
  }

  private[queries] val nearDupPairsCtes: String = nearDupPairsCtesFrom("documents")

  /** Census + budgeted-plan CTE chain (the q181/q182 oracle head):
    * 1-in-`sampleMod` id-hash sample signed at k, every (b, r) banding's
    * bucket census rolled to projected pairs ×mod², q171's step-error
    * grid, the feasibility cut, per-τ argmin — ends in
    * `ch(tau_e4, b, r, total_err, projected_pairs)` (one row per feasible
    * τ). CTE names are cs*-prefixed so the chain composes with the
    * full-corpus pair CTEs in one statement (q182). Mirrors
    * [[graft.operators.Dedup.bandingPlanBudgeted]] integer-for-integer. */
  private def budgetedPlanCtes(k: Int, tausE4: Seq[Long], sampleMod: Int,
                               pairBudget: Long): String = {
    val mhList = (0 until k).map(i => s"mh_$i").mkString("[", ", ", "]")
    raw"""csmp AS (SELECT doc_id, text FROM documents
         WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % $sampleMod = 0),
       csd AS (SELECT doc_id, CASE WHEN len(text) >= $N
         THEN list_distinct([substr(text, i, $N) for i in range(1, len(text)-${N - 2})])
         ELSE [text] END AS shs0 FROM csmp),
       csh AS (SELECT doc_id,
           list_transform(shs0, s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT)) AS hs
         FROM csd),
       cssig AS (SELECT doc_id, ${sigColsFor(k)} FROM csh),
       csl AS (SELECT doc_id, $mhList AS mh FROM cssig),
       combos AS (SELECT b.range AS b, r.range AS r
         FROM range(1, ${k + 1}) b, range(1, ${k + 1}) r
         WHERE b.range * r.range <= $k),
       cbr AS (SELECT doc_id, b, r, unnest(range(b)) AS band, mh FROM csl, combos),
       cbd AS (SELECT b, r, band,
           md5(array_to_string(list_transform(range(r),
             i -> CAST(mh[band*r + i + 1] AS VARCHAR)), '|')) AS bh
         FROM cbr),
       cen AS (SELECT b, r,
           CAST(sum((n*(n-1))//2) * $sampleMod * $sampleMod AS BIGINT) AS projected_pairs
         FROM (SELECT b, r, band, bh, count(*) AS n FROM cbd GROUP BY 1, 2, 3, 4)
         GROUP BY 1, 2),
       cstau AS (SELECT CAST(unnest([${tausE4.mkString(", ")}]) AS BIGINT) AS tau_e4),
       csg AS (SELECT range AS i FROM range(1, 40)),
       csp AS (SELECT tau_e4, b, r, i * 250 AS j,
           10000 - list_reduce(list_transform(range(b), xb ->
             10000 - list_reduce(list_transform(range(r), xr -> i * 250),
               (ja, jc) -> ja * jc // 10000)),
             (qa, qc) -> qa * qc // 10000) AS pc
         FROM combos, cstau, csg),
       cse AS (SELECT tau_e4, b, r,
           CAST(sum(abs(pc - CASE WHEN j >= tau_e4 THEN 10000 ELSE 0 END)) AS BIGINT) AS total_err
         FROM csp GROUP BY 1, 2, 3),
       ch AS (SELECT tau_e4, b, r, total_err, projected_pairs FROM (
           SELECT cse.tau_e4, cse.b, cse.r, cse.total_err, cen.projected_pairs,
             row_number() OVER (PARTITION BY tau_e4
               ORDER BY total_err, cse.b, cse.r) AS rn
           FROM cse JOIN cen ON cse.b = cen.b AND cse.r = cen.r
           WHERE cen.projected_pairs <= $pairBudget)
         WHERE rn = 1)"""
  }

  // q154: the q20 CTE chain over a mod-4 id-hash sample; the exact side
  // is ALL sample pairs (ids-only cross join, shingle sets equi-joined
  // back in), candidacy is the chain's own `cand`. Shared by q178's
  // calibration wrapper.
  private lazy val q154Sql: String =
    raw"""WITH sample AS (SELECT doc_id, text FROM documents
           WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 4 = 0),
         ${nearDupPairsCtesFrom("sample")},
         ids AS (SELECT doc_id FROM sig),
         uni AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM ids a JOIN ids b ON a.doc_id < b.doc_id),
         usc AS (SELECT u.a_id, u.b_id,
             len(list_intersect(sa.shs, sb.shs)) AS inter, sa.sz AS sz_a, sb.sz AS sz_b
           FROM uni u
           JOIN sig sa ON sa.doc_id = u.a_id
           JOIN sig sb ON sb.doc_id = u.b_id),
         uj AS (SELECT a_id, b_id,
             CAST(floor(inter/(sz_a + sz_b - inter)*10000 + 0.5) AS BIGINT) AS jaccard_e4
           FROM usc),
         fl AS (SELECT uj.jaccard_e4,
             CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS caught
           FROM uj LEFT JOIN cand c ON uj.a_id = c.a_id AND uj.b_id = c.b_id),
         g AS (SELECT least(jaccard_e4 // 1000, 9) AS bin, caught FROM fl)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(bin * 1000 AS BIGINT) AS lo_e4,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(caught) AS BIGINT) AS n_caught,
           CAST(sum(caught) * 10000 // count(*) AS BIGINT) AS catch_e4
         FROM g GROUP BY g.bin ORDER BY bin"""

  /** q38's winnowing derivation: fingerprint CTEs + stop-filter + shared
    * count >= 10. Shared by q38 (ad-hoc) and q167 (the persisted-store
    * serve — same result by contract). */
  private lazy val winnowingOracleSql: String =
    raw"""WITH g AS (SELECT doc_id, CASE WHEN len(text) >= 5
           THEN [substr(text, i, 5) for i in range(1, len(text)-3)]
           ELSE [text] END AS grams FROM documents),
         hsx AS (SELECT doc_id,
             list_transform(grams, x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS hs
           FROM g),
         fp AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) >= 4
             THEN [list_min(hs[i+1:i+4]) for i in range(0, len(hs)-3)]
             ELSE [list_min(hs)] END)) AS fp FROM hsx),
         keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 30),
         scoped AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
         FROM scoped a JOIN scoped b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 10 ORDER BY 1, 2"""

  /** q38's fingerprint CTEs + per-doc scoped counts + two integer DIVs;
    * max-side containment >= 6000. Shared by q161 (ad-hoc) and q166 (the
    * persisted-store serve — same result by contract). */
  private lazy val containmentOracleSql: String =
    raw"""WITH g AS (SELECT doc_id, CASE WHEN len(text) >= 5
           THEN [substr(text, i, 5) for i in range(1, len(text)-3)]
           ELSE [text] END AS grams FROM documents),
         hsx AS (SELECT doc_id,
             list_transform(grams, x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS hs
           FROM g),
         fp AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(hs) >= 4
             THEN [list_min(hs[i+1:i+4]) for i in range(0, len(hs)-3)]
             ELSE [list_min(hs)] END)) AS fp FROM hsx),
         keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 30),
         scoped AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp)),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM scoped GROUP BY 1),
         sh AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS shared
           FROM scoped a JOIN scoped b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 10),
         j AS (SELECT sh.a_id, sh.b_id, sh.shared,
             CAST(sh.shared * 10000 // sa.nf AS BIGINT) AS cont_a_e4,
             CAST(sh.shared * 10000 // sb.nf AS BIGINT) AS cont_b_e4
           FROM sh JOIN sz sa ON sa.doc_id = sh.a_id
           JOIN sz sb ON sb.doc_id = sh.b_id)
         SELECT a_id, b_id, shared, cont_a_e4, cont_b_e4 FROM j
         WHERE greatest(cont_a_e4, cont_b_e4) >= 6000 ORDER BY a_id, b_id"""

  val oracles: Map[String, String] = Map(
    "q119_repeated_spans" ->
      raw"""WITH g AS (
           SELECT doc_id,
             unnest(CASE WHEN len(text) >= 20 THEN
               [CAST(('0x'||substr(md5(substr(text, i, 20)),1,15)) AS BIGINT)
                for i in range(1, len(text) - 20 + 2)]
               ELSE [] END) AS gh
           FROM documents),
         rep AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
         r AS (SELECT doc_id, count(*) AS n_repeated
           FROM g JOIN rep USING (gh) GROUP BY doc_id),
         t AS (SELECT doc_id,
             CAST(greatest(len(text) - 20 + 1, 0) AS BIGINT) AS n_grams
           FROM documents WHERE len(text) >= 20)
         SELECT t.doc_id, t.n_grams, CAST(r.n_repeated AS BIGINT) AS n_repeated,
           CAST(floor(1e4 * r.n_repeated / t.n_grams + 0.5) AS BIGINT) AS rep_frac_e4
         FROM t JOIN r USING (doc_id)
         ORDER BY t.doc_id""",
    "q146_boilerplate_census" ->
      raw"""WITH g0 AS (SELECT doc_id,
             unnest(CASE WHEN len(text) >= 20 THEN
               [{'pos': CAST(i AS BIGINT),
                 'gh': CAST(('0x'||substr(md5(substr(text, CAST(i AS INT), 20)),1,15)) AS BIGINT)}
                for i in range(1, len(text) - 20 + 2)]
               ELSE [] END) AS u
           FROM documents),
         g AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM g0),
         per AS (SELECT gh, doc_id, CAST(count(*) AS BIGINT) AS occ,
             CAST(min(pos) AS BIGINT) AS mpos
           FROM g GROUP BY 1, 2),
         top AS (SELECT min(doc_id) AS ex_doc, arg_min(mpos, doc_id) AS ex_pos,
             CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ
           FROM per GROUP BY gh HAVING count(*) >= 2
           ORDER BY n_docs DESC, n_occ DESC, ex_doc, ex_pos LIMIT 100)
         SELECT t.ex_doc, t.ex_pos, t.n_docs, t.n_occ,
           substr(d.text, CAST(t.ex_pos AS INT), 20) AS span
         FROM top t JOIN documents d ON d.doc_id = t.ex_doc
         ORDER BY n_docs DESC, n_occ DESC, ex_doc, ex_pos""",
    "q126_capped_chunk_near_dup" ->
      raw"""WITH ckt AS (SELECT doc_id,
             CASE WHEN len(trim(text))=0 THEN []
                  ELSE regexp_split_to_array(trim(text),'\s+') END AS tks
           FROM documents),
         ck AS (SELECT doc_id, tks, unnest(range(0, len(tks), 24)) AS s FROM ckt),
         chunks AS (SELECT doc_id*100000 + s//24 AS doc_id,
             array_to_string(tks[s+1:s+32], ' ') AS text
           FROM ck),
         ${nearDupPairsCtesFrom("chunks", maxBucket = Some(24))}
         SELECT a_id, b_id, jaccard_e4 FROM pairs
         WHERE jaccard_e4 >= 5000 ORDER BY 1, 2""",
    "q111_chunk_near_dup" ->
      raw"""WITH ckt AS (SELECT doc_id,
             CASE WHEN len(trim(text))=0 THEN []
                  ELSE regexp_split_to_array(trim(text),'\s+') END AS tks
           FROM documents),
         ck AS (SELECT doc_id, tks, unnest(range(0, len(tks), 24)) AS s FROM ckt),
         chunks AS (SELECT doc_id*100000 + s//24 AS doc_id,
             array_to_string(tks[s+1:s+32], ' ') AS text
           FROM ck),
         ${nearDupPairsCtesFrom("chunks")}
         SELECT a_id, b_id, jaccard_e4 FROM pairs
         WHERE jaccard_e4 >= 5000 ORDER BY 1, 2""",
    "q20_lsh_near_dup" ->
      raw"""WITH $nearDupPairsCtes
         SELECT a_id, b_id, jaccard_e4 FROM pairs
         WHERE jaccard_e4 >= 5000 ORDER BY 1, 2""",
    // q173: the same chain at the banding q171's arithmetic picks for
    // τ=0.5 under the k=16 budget (5 bands × 3 rows) — a drifted plan
    // hash-fails here
    "q173_auto_near_dup" ->
      raw"""WITH ${nearDupPairsCtesFrom("documents", k = 15, b = 5)}
         SELECT a_id, b_id, jaccard_e4 FROM pairs
         WHERE jaccard_e4 >= 5000 ORDER BY 1, 2""",
    // q156: q20's pair CTEs ≥ 5000, sources joined on both ids, unordered
    // (least, greatest) cell, integer-DIV mean.
    "q156_near_dup_source_matrix" ->
      raw"""WITH $nearDupPairsCtes,
         p2 AS (SELECT a_id, b_id, jaccard_e4 FROM pairs WHERE jaccard_e4 >= 5000),
         j AS (SELECT least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b, p2.jaccard_e4
           FROM p2
           JOIN documents da ON da.doc_id = p2.a_id
           JOIN documents db ON db.doc_id = p2.b_id)
         SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(jaccard_e4) // count(*) AS BIGINT) AS mean_jaccard_e4
         FROM j GROUP BY src_a, src_b ORDER BY src_a, src_b""",
    // q157: the capped-candidate CTE chain (bucket 24), texts joined on
    // both ids, unbounded Levenshtein + the integer sim filter (the
    // engine's bounded early-exit DP is result-identical by algebra).
    "q157_edit_near_dup" ->
      raw"""WITH ${nearDupPairsCtesFrom("documents", maxBucket = Some(24))},
         t AS (SELECT c.a_id, c.b_id, da.text AS ta, db.text AS tb,
             greatest(len(da.text), len(db.text)) AS l
           FROM cand c
           JOIN documents da ON da.doc_id = c.a_id
           JOIN documents db ON db.doc_id = c.b_id
           WHERE greatest(len(da.text), len(db.text)) > 0),
         s AS (SELECT a_id, b_id,
             CAST((l - levenshtein(ta, tb)) * 10000 // l AS BIGINT) AS edit_sim_e4
           FROM t)
         SELECT a_id, b_id, edit_sim_e4 FROM s
         WHERE edit_sim_e4 >= 8000 ORDER BY a_id, b_id""",
    // q171: the identical truncating-division power chains (j^r, then
    // (1-j^r)^b) replayed via list_reduce; same grid, budget, tie-breaks.
    "q171_banding_plan" ->
      raw"""WITH cand AS (SELECT b.range AS b, r.range AS r
           FROM range(1, ${K + 1}) b, range(1, ${K + 1}) r
           WHERE b.range * r.range <= $K),
         tau AS (SELECT CAST(unnest([3000, 5000, 8000]) AS BIGINT) AS tau_e4),
         g AS (SELECT range AS i FROM range(1, 40)),
         p AS (SELECT tau_e4, b, r, i * 250 AS j,
             10000 - list_reduce(list_transform(range(b), xb ->
               10000 - list_reduce(list_transform(range(r), xr -> i * 250),
                 (ja, jc) -> ja * jc // 10000)),
               (qa, qc) -> qa * qc // 10000) AS pc
           FROM cand, tau, g),
         s AS (SELECT tau_e4, b, r,
             CAST(sum(abs(pc - CASE WHEN j >= tau_e4 THEN 10000 ELSE 0 END)) AS BIGINT) AS total_err
           FROM p GROUP BY 1, 2, 3),
         w AS (SELECT tau_e4, b, r, total_err,
             row_number() OVER (PARTITION BY tau_e4 ORDER BY total_err, b, r) AS rn
           FROM s)
         SELECT tau_e4, b AS bands, r AS rows_per_band, total_err
         FROM w WHERE rn = 1 ORDER BY tau_e4""",
    // q181: the census + step-error chain with the feasibility cut — the
    // same truncating power chains as q171, joined against the sampled
    // bucket census ×16 (mod 4), argmin over feasible (b, r) only
    "q181_budgeted_banding_plan" ->
      raw"""WITH ${budgetedPlanCtes(K, Seq(3000L, 5000L, 8000L), 4,
             PairCensus.DefaultBudget)}
         SELECT tau_e4, b AS bands, r AS rows_per_band, total_err,
           projected_pairs
         FROM ch ORDER BY tau_e4""",
    // q182: the plan chain picks (b, r) for τ=0.5 under the census budget,
    // then the FULL near-dup derivation runs at that banding — band count
    // and rows-per-band are DATA-dependent (range(b) over the chosen row),
    // so a drifted pick hash-fails the gate
    "q182_budget_auto_near_dup" ->
      raw"""WITH ${budgetedPlanCtes(K, Seq(5000L), 4,
             PairCensus.DefaultBudget)},
         d AS (SELECT doc_id, CASE WHEN len(text) >= $N
           THEN list_distinct([substr(text, i, $N) for i in range(1, len(text)-${N - 2})])
           ELSE [text] END AS shs0 FROM documents),
         h AS (SELECT doc_id, len(shs0) AS sz,
             list_transform(shs0, s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT)) AS hs
           FROM d),
         sig AS (SELECT doc_id, sz, list_distinct(hs) AS shs, ${sigColsFor(K)} FROM h),
         sl AS (SELECT doc_id, sz, shs,
             ${(0 until K).map(i => s"mh_$i").mkString("[", ", ", "]")} AS mh
           FROM sig),
         bx AS (SELECT doc_id, mh, r, unnest(range(b)) AS band FROM sl, ch),
         bands AS (SELECT doc_id, band,
             md5(array_to_string(list_transform(range(r),
               i -> CAST(mh[band*r + i + 1] AS VARCHAR)), '|')) AS bh
           FROM bx),
         cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         scored AS (SELECT c.a_id, c.b_id,
             len(list_intersect(sa.shs, sb.shs)) AS inter, sa.sz AS sz_a, sb.sz AS sz_b
           FROM cand c
           JOIN sl sa ON sa.doc_id = c.a_id
           JOIN sl sb ON sb.doc_id = c.b_id),
         pairs AS (SELECT a_id, b_id,
             CAST(floor(inter/(sz_a + sz_b - inter)*10000 + 0.5) AS BIGINT) AS jaccard_e4
           FROM scored)
         SELECT a_id, b_id, jaccard_e4 FROM pairs
         WHERE jaccard_e4 >= 5000 ORDER BY 1, 2""",
    // q154: the q20 CTE chain over a mod-4 id-hash sample; the exact side
    // is ALL sample pairs (ids-only cross join, shingle sets equi-joined
    // back in), candidacy is the chain's own `cand`.
    "q154_lsh_scurve" -> q154Sql,
    // q186: q154's sample + all-pairs exact side, est = matching-minhash
    // fraction (16-term equality sum), MAE per exact-Jaccard decile
    "q186_minhash_estimator" -> minhashEstimatorSqlFor(4),
    // q192: the mod-32 sampled surrogate — the q164/q183/q184 pattern for
    // q186's sf1.0 oracle class (the mod-4 all-pairs side DNF-timeouts at
    // 2400 s; the 64x-smaller pair frame is DuckDB-feasible)
    "q192_sampled_minhash_estimator" -> minhashEstimatorSqlFor(32),
    // q178: q154's measured curve joined to the theoretical 1-(1-j^r)^b
    // at each bin midpoint — the same truncating power chains as q171
    "q178_banding_calibration" ->
      raw"""WITH m AS ($q154Sql),
         p AS (SELECT m.*,
             10000 - list_reduce(list_transform(range($B), xb ->
               10000 - list_reduce(list_transform(range(${K / B}), xr -> lo_e4 + 500),
                 (ja, jc) -> ja * jc // 10000)),
               (qa, qc) -> qa * qc // 10000) AS predicted_e4
           FROM m)
         SELECT bin, lo_e4, n_pairs, catch_e4 AS measured_e4, predicted_e4,
           abs(catch_e4 - predicted_e4) AS gap_e4
         FROM p ORDER BY bin""",
    "q99_incremental_near_dup" ->
      raw"""WITH $nearDupPairsCtes
         SELECT a_id, b_id, jaccard_e4 FROM pairs
         WHERE jaccard_e4 >= 5000 AND (a_id % 2 = 1 OR b_id % 2 = 1)
         ORDER BY 1, 2""",
    // q161: q38's fingerprint CTEs + per-doc scoped counts + two integer
    // DIVs; max-side containment >= 6000.
    "q161_containment_pairs" -> containmentOracleSql,
    // q166 serves q161's search from the persisted fingerprint store —
    // same result, same oracle derivation
    "q166_containment_store" -> containmentOracleSql,
    "q38_winnowing_pairs" -> winnowingOracleSql,
    // q167 serves q38's search from the persisted fingerprint store —
    // same result, same oracle derivation (one store, both surfaces)
    "q167_winnowing_store" -> winnowingOracleSql,
    "q21_simhash_pairs" ->
      raw"""WITH toks AS (SELECT doc_id,
           list_distinct(CASE WHEN len(trim(text)) = 0 THEN []
             ELSE regexp_split_to_array(trim(text), '\s+') END) AS tks
           FROM documents),
         h AS (SELECT doc_id,
             list_transform(tks, t -> CAST(('0x'||substr(md5(t),1,15)) AS BIGINT)) AS hs
           FROM toks),
         sim AS (SELECT doc_id, CAST(list_sum([CASE WHEN
               list_sum(list_transform(hs, x -> CAST((x >> j) & 1 AS INT)*2-1)) > 0
               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END for j in range(0,60)]) AS BIGINT) AS simhash
           FROM h),
         chunks AS (SELECT doc_id, simhash, c, (simhash >> (c*15)) & 32767 AS chunk
                    FROM sim, range(0,4) t(c)),
         cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                    a.simhash AS a_sim, b.simhash AS b_sim
                  FROM chunks a JOIN chunks b
                    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, CAST(bit_count(xor(a_sim, b_sim)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(a_sim, b_sim)) <= 3 ORDER BY 1, 2""")
}
