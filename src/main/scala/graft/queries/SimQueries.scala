package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Similarity

/** Similarity-search queries over `embeddings` (64-dim float vectors):
  * exact brute-force cosine top-k, hyperplane-LSH approximate top-k, and
  * LSH-scoped cosine near-dup pairs. Vectors are quantized (×1000 → long)
  * so every score is an integer-derived double — identical in DuckDB.
  */
object SimQueries {

  private val Dim = 64
  private val Planes = 8
  private val TopK = 5

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings").filter(col("vec_id") < 10)

  /** q22: exact cosine top-5 for 10 query vectors (broadcast queries ×
    * one corpus scan; no corpus shuffle). */
  def q22CosineTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      queriesDf(spark, dir), Tables(spark, dir, "embeddings"), TopK)
      .orderBy(col("q_id"), col("rank"))

  /** q23: LSH-approximate top-5 — 8 md5-seeded hyperplanes → 256 buckets,
    * rank within the query's bucket only. */
  def q23AnnTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(
      queriesDf(spark, dir), Tables(spark, dir, "embeddings"),
      Similarity.hyperplanes(spark, Planes, Dim), TopK)
      .orderBy(col("q_id"), col("rank"))

  /** q24: embedding near-dup pairs — cosine ≥ 0.35 within shared LSH bucket. */
  def q24EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(
      Tables(spark, dir, "embeddings"),
      Similarity.hyperplanes(spark, Planes, Dim), 0.35)
      .orderBy(col("a_id"), col("b_id"))

  /** q37: IVF approximate top-5 — coarse centroids from the label column,
    * queries probe their 2 nearest inverted lists. */
  def q37IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfTopK(queriesDf(spark, dir), emb,
      Similarity.ivfCentroids(emb, "label"), TopK, probes = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q155: k-NN density per vector — the cosine of each vector's 5th
    * nearest neighbor WITHIN its IVF list (q37's label-mean coarse
    * structure, probes=1): the local-density / redundancy score behind
    * density-based corpus pruning — high kth-neighbor cosine = dense
    * clump (downsample candidate), low = locally novel (keep); the
    * per-point complement of q60's global outliers and q97's
    * cluster-level semantic dedup. Short lists fall back to their
    * farthest in-list neighbor; singletons report null. Pair work never
    * leaves a coarse list (Σ|list|², centroid count is the scale knob,
    * guarded by [[Similarity.knnDensity]]'s pair budget). */
  def q155KnnDensity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.knnDensity(emb, Similarity.ivfCentroids(emb, "label"), k = TopK)
      .orderBy(col("vec_id"))
  }

  /** q163: q155's density scorer through the 100 TB-safe entry point —
    * `knnDensityAuto` derives nLists = ⌈n / targetListSize⌉ from the
    * measured corpus and LEARNS the centroids (q39's deterministic
    * k-means, 2 iterations) instead of trusting a hand-picked list count,
    * so per-list pair work stays ~targetListSize²/2 as data grows — the
    * q122 pattern applied to the density operator. targetListSize = 63
    * makes the derived nLists equal 8 on the sf0.01 corpus (500 rows);
    * at other scales the oracle derives the same count from its own
    * count(*), so the check holds wherever the harness runs it. */
  def q163KnnDensityAuto(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnDensityAuto(Tables(spark, dir, "embeddings"),
      targetListSize = 63L, iters = 2, k = TopK)
      .orderBy(col("vec_id"))

  /** q148: IVF recall-vs-probes curve — mean recall@5 of the q37 IVF
    * search against the q22 exact ranking at probes ∈ {1, 2, 4}: the
    * "choose probes" tuning input (q147's compression curve for the ANN
    * side). Where the curve flattens, additional probes stop buying
    * accuracy and only cost candidate scans — measured on the real
    * corpus before fixing the serving configuration. */
  def q148IvfRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(emb, "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Similarity.ivfRecallCurve(queriesDf(spark, dir), emb, cents,
      TopK, Seq(1, 2, 4))
      .orderBy(col("probes"))
    cents.unpersist()
    out
  }

  /** q120: q37's IVF search served from a PERSISTED index — build writes
    * centroids + inverted lists into a Warehouse, topK reads them back;
    * results must be row-identical to the ad-hoc path (same oracle SQL
    * as q37), proving the store/serve round-trip loses nothing. */
  def q120AnnIndexTopK(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q120BuildServe(spark, dir))

  /** q121: q89's PQ/ADC search served from PERSISTED codes — buildPq
    * writes codebooks + 16×-compressed codes into a Warehouse, topKPq
    * ranks off the stored ints alone (same oracle SQL as q89). */
  def q121PqIndexTopK(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q121BuildServe(spark, dir))

  /** q39: deterministic Lloyd's k-means (k=8, 2 iterations, lowest-id
    * seeds) — learned IVF centroids, fingerprinted exactly: md5 of the
    * comma-joined quantized centroid plus its integer self-dot, with final
    * cluster sizes. Every value is integer/string-exact cross-engine. */
  def q39Kmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val sizes = Similarity.ivfAssign(emb, cent, probes = 1)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    cent.join(sizes, Seq("label"), "left")
      .select(
        col("label"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        md5(concat_ws(",", col("ce"))).as("ce_md5"),
        Similarity.qdot(col("ce"), col("ce")).as("ce_norm2"))
      .orderBy(col("label"))
  }

  /** q190: topic-balanced embedding sampling — the diversity-preserving
    * subsample a training-data pipeline draws when one topic cluster
    * dominates the corpus: per k-means cluster (q39's deterministic
    * centroid chain), the sampling rate is ∝ sqrt(cluster size) (the
    * classic balanced-allocation compromise — pure proportional keeps the
    * skew, pure uniform-per-cluster starves big clusters), normalized to
    * a half-corpus budget, and membership is the deterministic per-vector
    * hash bucket (q45/q98's sampling primitive) — NO corpus-sized window,
    * no rank: the rate table is k rows, broadcast, and the keep decision
    * is row-local, so the op is one assignment pass + one k-row join at
    * any scale. All allocation arithmetic is integer (sqrt quantized to
    * e3 first) so the plan replays exactly in the oracle.
    *
    * Output per cluster: size, e3 weight, e4 sampling rate, sampled count. */
  def q190BalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val assigned = Similarity.ivfAssign(emb, cent, probes = 1)
    val sizes = assigned.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("w_e3",
        floor(sqrt(col("n_vecs").cast("double")) * 1000 + 0.5).cast("long"))
    val tot = sizes.agg(sum(col("n_vecs")).as("total"), sum(col("w_e3")).as("sumw"))
    val rates = sizes.join(broadcast(tot), lit(true))
      .withColumn("rate_e4",
        least(lit(10000L),
          expr("((10000 * w_e3) DIV sumw) * (total DIV 2) DIV n_vecs")))
      .select(col("label"), col("n_vecs"), col("w_e3"), col("rate_e4"))
    assigned
      .join(broadcast(rates), "label")
      .withColumn("keep",
        graft.functions.TextFunctions.sampleBucket(col("vec_id")) < col("rate_e4"))
      .groupBy(col("label"))
      .agg(first(col("n_vecs")).as("n_vecs"), first(col("w_e3")).as("w_e3"),
        first(col("rate_e4")).as("rate_e4"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("label"))
  }

  /** q54: embedding dedup clusters — the operators compose: LSH-scoped
    * cosine near-dup pairs (q24's derivation) feed the same connected-
    * components + canonical-selection step the text pipeline uses (q41).
    * Semantic dedup of an embedded corpus in two library calls. */
  def q54EmbeddingClusters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clusters.dedupClusters(
      Similarity.cosineNearDupPairs(
        Tables(spark, dir, "embeddings"),
        Similarity.hyperplanes(spark, Planes, Dim), 0.35))
      .withColumnRenamed("doc_id", "vec_id")
      .orderBy(col("cluster"), col("vec_id"))

  /** q60: embedding-space outliers — vectors whose squared distance to
    * their own label centroid exceeds 2× the label's mean (likely
    * mislabeled / noise; the embedding-side quality filter). All-integer:
    * dist² from three integer dots, mean e0-quantized. */
  def q60EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidOutliers(Tables(spark, dir, "embeddings"), factor = 2)
      .orderBy(col("vec_id"))

  /** q65: SQ8 scalar-quantized ANN quality — recall@5 of the 8-bit-code
    * ranking against the exact cosine ranking for the 10 query vectors.
    * The 4× memory/IO compression check: per-dim corpus bounds → byte
    * codes → integer code-dot top-k vs float-exact top-k. */
  def q65Sq8Recall(spark: SparkSession, dir: String): DataFrame =
    Similarity.sq8Recall(
      queriesDf(spark, dir), Tables(spark, dir, "embeddings"), TopK)
      .orderBy(col("q_id"))

  /** q172: SQ8 quantization-distortion audit — per-dimension count / sum /
    * sum-of-squares / max of the integer reconstruction error plus
    * mean_err_e4: the "is 8-bit scalar quantization safe for this corpus"
    * monitor completing the ANN lifecycle inputs (occupancy q134, drift
    * q133, recall q148 watch the coarse layer; this reads the code layer
    * in one scan). A heavy-tailed dimension (max_err ≫ the rest) is the
    * switch-to-PQ-or-clip signal BEFORE recall degrades. */
  def q172Sq8Distortion(spark: SparkSession, dir: String): DataFrame =
    Similarity.sq8Distortion(Tables(spark, dir, "embeddings"))
      .orderBy(col("d"))

  /** q80: IVF lists + SQ8 scoring composed — candidates from the probed
    * inverted lists (assigned at ingest from full-precision vectors),
    * ranking from the stored 8-bit codes only. The FAISS-shaped serving
    * path in two library calls. */
  def q80IvfSq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfSq8TopK(queriesDf(spark, dir), emb,
      Similarity.ivfCentroids(emb, "label"), TopK, probes = 2)
      .orderBy(col("q_id"), col("rank"))
  }

  private val PqM = 4
  private val ShortlistK = 20

  /** q89: product-quantized ANN — 4 subspaces × 8 centroids learned with
    * the deterministic per-subspace Lloyd's (q39's machinery, sliced),
    * corpus stored as 4 tiny codes per vector (16× compression beyond
    * SQ8's 4×), queries ranked by asymmetric distance: an m·k lookup
    * table per query, reconstruction norms from the codebook self-dots —
    * the serving path never touches a stored vector. */
  def q89PqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.pqTopK(queriesDf(spark, dir), emb,
      Similarity.pqCodebooks(emb, m = PqM, k = 8, dim = Dim, iters = 2),
      TopK, m = PqM, dim = Dim)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q174: per-subspace PQ distortion — q172's sibling on the codebook
    * quantizer, completing the which-quantizer audit pair: exact integer
    * squared L2 between each subvector and its winning codebook entry,
    * reduced per subspace. A subspace whose sum_sq_err dwarfs the rest is
    * under-covered by its 8 entries — the raise-k-or-resplit signal. */
  def q174PqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.pqDistortion(emb,
      Similarity.pqCodebooks(emb, m = PqM, k = 8, dim = Dim, iters = 2),
      m = PqM, dim = Dim)
      .orderBy(col("sub"))
  }

  /** q90: IVFADC — the full FAISS-shaped stack composed from parts the
    * suite already proves separately: coarse inverted lists (q37's
    * label-derived centroids, queries probe 2) prune candidates, PQ codes
    * (q89's per-subspace codebooks) score them by asymmetric distance.
    * Candidate pruning × 16× compression on one serving path. */
  def q90IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfPqTopK(queriesDf(spark, dir), emb,
      Similarity.ivfCentroids(emb, "label"),
      Similarity.pqCodebooks(emb, m = PqM, k = 8, dim = Dim, iters = 2),
      TopK, probes = 2, m = PqM, dim = Dim)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q91: two-stage serving — PQ/ADC recall stage shortlists 20 candidates
    * per query (q89's machinery), an exact full-precision cosine re-ranks
    * the shortlist to the final top-5. The shortlist broadcast-filters the
    * corpus scan, so the precision stage touches |Q|·20 raw vectors — the
    * production answer to PQ's quantization error without PQ's IO cost. */
  def q91PqRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val q = queriesDf(spark, dir)
    val shortlist = Similarity.pqTopK(q, emb,
      Similarity.pqCodebooks(emb, m = PqM, k = 8, dim = Dim, iters = 2),
      ShortlistK, m = PqM, dim = Dim)
    Similarity.rerankExact(q, emb, shortlist, TopK)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q97: SemDeDup — semantic dedup scoped by LEARNED k-means clusters
    * (q39's deterministic centroids), vs q54's LSH-bucket scoping: pairs
    * ≥ 0.35 within a cluster form duplicate groups, each group keeps the
    * member farthest from its centroid (the paper's keep-the-outlier
    * rule). Exercises clustering → pairing → components → canonical
    * selection as one composed library call. */
  def q97SemDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables(spark, dir, "embeddings"),
      k = 8, iters = 2, tauE4 = 3500L)
      .orderBy(col("cluster"), col("vec_id"))

  /** q122: q97 through the 100 TB-safe entry point — `semDedupAuto`
    * derives k = ⌈n / targetClusterSize⌉ from the measured corpus
    * instead of trusting a hand-picked constant, so per-cluster pair
    * work stays bounded as data grows. targetClusterSize = 63 makes the
    * derived k equal q97's hand-picked 8 on the sf0.01 corpus (500
    * rows), proving auto ≡ manual when they agree; at other scales the
    * oracle derives the same k from its own count(*), so the check
    * holds wherever the harness runs it. */
  def q122SemDedupAuto(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedupAuto(Tables(spark, dir, "embeddings"),
      targetClusterSize = 63L, iters = 2, tauE4 = 3500L)
      .orderBy(col("cluster"), col("vec_id"))

  /** The deterministic mod-4 id-hash sample on the embeddings side — the
    * q164/q183/q184/q192 audit restriction applied to the k-means
    * composites: both engines restrict to vectors whose 60-bit md5
    * id-hash ≡ 0 (mod 4) BEFORE the chain, and the auto entry points
    * re-derive k from the SAMPLED count, so the whole
    * kmeans→assign→(semdedup|density) derivation is self-contained on
    * the restricted frame. The sample makes the oracle's n·k assignment
    * cross-join 16× smaller — DuckDB-feasible at sf1.0 where the
    * full-frame q122/q163 oracles ENOSPC (>79 GB temp spill, r9 probe).
    * At 100 TB the mod is the audit's budget knob. */
  private def sampledQuarter(emb: DataFrame): DataFrame = {
    val idHash = conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    emb.filter(pmod(idHash, lit(4L)) === 0L)
  }

  /** q193: q122's auto SemDeDup over the mod-4 id-hash sample — the
    * committed sf1.0 hash evidence for the k-means-assignment oracle
    * class (the last declared-infeasible class with no 10×-scale pin).
    * Same code path as q122, restricted input, k re-derived from the
    * sampled count on both sides. */
  def q193SampledSemDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedupAuto(sampledQuarter(Tables(spark, dir, "embeddings")),
      targetClusterSize = 63L, iters = 2, tauE4 = 3500L)
      .orderBy(col("cluster"), col("vec_id"))

  /** q195: q163's auto kNN-density over the mod-4 id-hash sample — the
    * density composite's sf1.0-feasible surrogate (same pattern as
    * q193; the within-list kth-neighbor logic is list-local, so the
    * restriction composes through it unchanged). */
  def q195SampledKnnDensity(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnDensityAuto(sampledQuarter(Tables(spark, dir, "embeddings")),
      targetListSize = 63L, iters = 2, k = TopK)
      .orderBy(col("vec_id"))

  /** q100: distributed PCA — every embedding projected onto the corpus's
    * dominant principal direction (8 power iterations over a covariance
    * built in ONE corpus scan). The whitening/compression primitive:
    * 64 floats → 1 int per vector, with the iterate re-quantized to
    * ±1000 each step so both engines walk identical integers. */
  def q100PcaProjection(spark: SparkSession, dir: String): DataFrame =
    Similarity.pcaProjection(Tables(spark, dir, "embeddings"), iters = 8)
      .orderBy(col("vec_id"))

  /** q105: hard-negative mining — each of the 10 anchor vectors' top-5
    * nearest neighbors from OTHER labels, the contrastive-training
    * counterpart of q22 (random negatives are trivially far; these are
    * the ones that move an embedding model). */
  def q105HardNegatives(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(
      queriesDf(spark, dir), Tables(spark, dir, "embeddings"), TopK)
      .orderBy(col("q_id"), col("rank"))

  /** q107: semantic decontamination — corpus vectors (vec_id ≥ 20) within
    * cosine 0.25 of ANY eval vector (vec_id < 20), candidates scoped by
    * the shared q24 LSH buckets. The embedding-space complement of the
    * verbatim q42/q56 decontamination paths: paraphrased benchmark items
    * share no n-grams but do land in the eval item's bucket. */
  def q107SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    graft.operators.Decontaminate.semanticContaminated(
      emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
      Similarity.hyperplanes(spark, Planes, Dim), tauE4 = 2500L)
      .orderBy(col("vec_id"))
  }

  /** q124: binary sign-bit Hamming search — every vector compressed to two
    * 32-bit sign words (16 bytes), queries shortlist the 20 Hamming-nearest
    * candidates (XOR+popcount), exact quantized cosine re-ranks to top-5. */
  def q124HammingTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.hammingTopK(
      queriesDf(spark, dir), Tables(spark, dir, "embeddings"),
      TopK, shortlist = 20)
      .orderBy(col("q_id"), col("rank"))

  /** q153: Hamming recall-vs-shortlist curve — mean recall@5 of the q124
    * sign-bit search against the q22 exact ranking at shortlist ∈
    * {5, 10, 20}: the "choose the shortlist" tuning input, closing the
    * tuning-curve family (q147 vocab sizes, q148 IVF probes, q153
    * Hamming shortlist). Where the curve flattens, a larger shortlist
    * only costs rerank dot products. All points share ONE corpus scan
    * and one shortlist window — a smaller shortlist is a prefix filter
    * of the largest one's ranked frame. */
  def q153HammingRecallCurve(spark: SparkSession, dir: String): DataFrame =
    Similarity.hammingRecallCurve(
      queriesDf(spark, dir), Tables(spark, dir, "embeddings"),
      TopK, Seq(5, 10, 20))
      .orderBy(col("shortlist"))

  /** q128: q90's IVFADC stack served from a PERSISTED composed index —
    * buildIvfPq stores coarse centroids, codebooks, and each vector's
    * (codes, coarse list) rows hive-partitioned by list; topKIvfPq
    * resolves the probed lists first and pushes them as a static
    * partition filter, so serving scans only the probed `clist=` dirs of
    * int-thin code rows (plain topKPq/q121 reads every stored code).
    * Results must be row-identical to the ad-hoc q90 (same oracle SQL),
    * proving the store/serve round-trip loses nothing. */
  def q128IvfPqIndexTopK(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q128BuildServe(spark, dir))

  /** q129: q124's binary Hamming search served from PERSISTED sign words —
    * buildHamming stores (id, w0, w1, qe) once; the serving shortlist
    * scans 16 B/vector (column pruning keeps qe out of the Hamming scan)
    * and the exact rerank joins qe back for shortlisted candidates only.
    * Row-identical to ad-hoc q124 (same oracle SQL): the store/serve
    * round-trip loses nothing, and no query ever re-signs the corpus. */
  def q129HammingIndexTopK(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q129BuildServe(spark, dir))

  /** q130: q80's IVF+SQ8 composition served from a PERSISTED store —
    * buildSq8 freezes (centroids, per-dim bounds) and stores each
    * vector's byte codes next to its coarse list, partitioned by list;
    * topKSq8 pushes the probed lists as a static partition filter and
    * reconstructs candidates from their codes. Row-identical to ad-hoc
    * q80 (same oracle SQL): with this, every ANN family the engine
    * serves ad hoc — IVF, PQ, IVF+PQ, SQ8+IVF, sign-bit Hamming — also
    * serves from a persistent, partition-pruned store. */
  def q130Sq8IndexTopK(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q130BuildServe(spark, dir))

  /** Build/serve splits for the five persistent ANN index probes (q120/
    * q121/q128/q129/q130) — the BENCH surface's store-lifecycle split
    * (the q169/q177/q191 pattern): `build` is the one-time index
    * construction a deployment pays per corpus snapshot, `serve` the
    * recurring probe the store exists for. The round-11 sf1.0 sweep read
    * q130 at 2.73× its oracle ONLY because the in-query store build was
    * timed with the probe. Each registry query is
    * [[QueryUtil.buildThenServe]] of its pair, so the oracle checks the
    * rows Bench times. */
  private def indexBuildServe(spark: SparkSession, dir: String, tag: String)(
      build0: (graft.core.Warehouse, DataFrame) => Unit)(
      serve0: (graft.core.Warehouse, SparkSession, String) => DataFrame)
      : (() => Unit, () => DataFrame) = {
    val emb = Tables(spark, dir, "embeddings")
    val whDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    (() => build0(wh, emb),
      () => QueryUtil.withTempWarehouse(whDir)(serve0(wh, spark, dir)))
  }

  def q120BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    indexBuildServe(spark, dir, "q120") { (wh, emb) =>
      graft.operators.AnnIndex.build(wh, "ann", "emb", emb,
        Similarity.ivfCentroids(emb, "label"))
    } { (wh, s, d) =>
      graft.operators.AnnIndex.topK(wh, "ann", "emb", queriesDf(s, d), TopK, probes = 2)
        .orderBy(col("q_id"), col("rank"))
    }

  def q121BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    indexBuildServe(spark, dir, "q121") { (wh, emb) =>
      graft.operators.AnnIndex.buildPq(wh, "ann", "emb", emb,
        Similarity.pqCodebooks(emb, m = PqM, k = 8, dim = Dim, iters = 2),
        m = PqM, dim = Dim)
    } { (wh, s, d) =>
      graft.operators.AnnIndex.topKPq(wh, "ann", "emb", queriesDf(s, d), TopK,
        m = PqM, dim = Dim).orderBy(col("q_id"), col("rank"))
    }

  def q128BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    indexBuildServe(spark, dir, "q128") { (wh, emb) =>
      graft.operators.AnnIndex.buildIvfPq(wh, "ann", "emb", emb,
        Similarity.ivfCentroids(emb, "label"),
        Similarity.pqCodebooks(emb, m = PqM, k = 8, dim = Dim, iters = 2),
        m = PqM, dim = Dim)
    } { (wh, s, d) =>
      graft.operators.AnnIndex.topKIvfPq(wh, "ann", "emb", queriesDf(s, d), TopK,
        probes = 2, m = PqM, dim = Dim).orderBy(col("q_id"), col("rank"))
    }

  def q129BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    indexBuildServe(spark, dir, "q129") { (wh, emb) =>
      graft.operators.AnnIndex.buildHamming(wh, "ann", "emb", emb)
    } { (wh, s, d) =>
      graft.operators.AnnIndex.topKHamming(wh, "ann", "emb", queriesDf(s, d), TopK,
        shortlist = 20).orderBy(col("q_id"), col("rank"))
    }

  def q130BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    indexBuildServe(spark, dir, "q130") { (wh, emb) =>
      graft.operators.AnnIndex.buildSq8(wh, "ann", "emb", emb,
        Similarity.ivfCentroids(emb, "label"), Similarity.sq8Bounds(emb))
    } { (wh, s, d) =>
      graft.operators.AnnIndex.topKSq8(wh, "ann", "emb", queriesDf(s, d), TopK,
        probes = 2).orderBy(col("q_id"), col("rank"))
    }

  /** q133: embedding-distribution drift — per label, how far the integer
    * centroid moved between snapshot A (even vec_id) and snapshot B (odd
    * vec_id), with exact integer displacement and norms. The
    * embedding-space complement of q131's token drift, and the monitor
    * that tells an AnnIndex deployment its frozen centroids have drifted
    * from the data (rebuild-for-recall signal). */
  def q133EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.centroidDrift(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      "label")
      .orderBy(col("label"))
  }

  /** q144: embedding-space label affinity matrix — signed squared cosine
    * between every two labels' integer centroids: which classes sit close
    * in embedding space (confusable, semantically redundant). Completes
    * the source/label-relationship suite: q127 measures verbatim overlap
    * (theta), q131 lexical register (token TV), this one semantic
    * proximity — and it is the design input for q105's hard-negative
    * mining (draw negatives from high-affinity pairs) and for merging
    * redundant strata in mixture design. `aff_e4` = sign(dot)·⌊dot²·10⁴ /
    * (‖a‖²·‖b‖²)⌋ stays in exact int64 (dot ≤ dim·q², so dot²·10⁴ <
    * 2⁶³ at dim 64, q ≤ ~1e3): monotone in |cos| with cos's sign, zero
    * IEEE anywhere.
    *
    * Scale shape: one corpus scan for centroids (dim-exploded map-side
    * partial means), persisted at label-cardinality size so the a-side,
    * b-side, and norm consumers never re-scan the corpus (q127's
    * persist → eager-checkpoint → release idiom); the pair stage is the
    * q131 idiom — equi-join the label·dim frames on the dimension, never
    * a corpus-sized product — at labels²·dim rows, corpus-size
    * independent. */
  def q144LabelAffinity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(emb, "label")
      .join(emb.groupBy(col("label")).agg(count(lit(1)).as("n")), Seq("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = cents.select(col("label"), col("n"), posexplode(col("ce")).as(Seq("d", "v")))
    val dots = ex.select(col("label").as("label_a"), col("n").as("n_a"),
        col("d"), col("v").as("va"))
      .join(ex.select(col("label").as("label_b"), col("n").as("n_b"),
        col("d"), col("v").as("vb")), Seq("d"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("va") * col("vb")).as("dot"))
    val norms = ex.groupBy(col("label")).agg(sum(col("v") * col("v")).as("n2"))
    val out = dots
      .join(broadcast(norms.select(col("label").as("label_a"), col("n2").as("norm_a_sq"))),
        Seq("label_a"))
      .join(broadcast(norms.select(col("label").as("label_b"), col("n2").as("norm_b_sq"))),
        Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("dot"), col("norm_a_sq"), col("norm_b_sq"),
        when(col("norm_a_sq") > 0 && col("norm_b_sq") > 0,
          when(col("dot") < 0, -1L).otherwise(1L) *
            expr("(dot * dot * 10000L) div (norm_a_sq * norm_b_sq)"))
          .otherwise(0L).as("aff_e4"))
      .orderBy(col("label_a"), col("label_b"))
      .localCheckpoint(true)
    cents.unpersist()
    out
  }

  /** q134: inverted-list occupancy report from the persisted ANN index —
    * per stored list: vector count, corpus share, and skew vs the
    * uniform ideal. The maintenance monitor of the store family
    * (build → append → serve → MONITOR): empty lists and hot lists are
    * the rebuild-for-recall signals q133's centroid drift complements. */
  def q134AnnIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val whDir = java.nio.file.Files.createTempDirectory("graft_q134_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    graft.operators.AnnIndex.build(wh, "ann", "emb", emb,
      Similarity.ivfCentroids(emb, "label"))
    QueryUtil.withTempWarehouse(whDir) {
      graft.operators.AnnIndex.stats(wh, "ann", "emb")
        .orderBy(col("label"))
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_ann_index_stats" -> (q134AnnIndexStats _),
    "q133_embedding_drift" -> (q133EmbeddingDrift _),
    "q144_label_affinity" -> (q144LabelAffinity _),
    "q128_ivfpq_index_topk" -> (q128IvfPqIndexTopK _),
    "q129_hamming_index_topk" -> (q129HammingIndexTopK _),
    "q130_sq8_index_topk" -> (q130Sq8IndexTopK _),
    "q65_sq8_recall" -> (q65Sq8Recall _),
    "q172_sq8_distortion" -> (q172Sq8Distortion _),
    "q174_pq_distortion" -> (q174PqDistortion _),
    "q124_hamming_topk" -> (q124HammingTopK _),
    "q153_hamming_recall_curve" -> (q153HammingRecallCurve _),
    "q91_pq_rerank" -> (q91PqRerank _),
    "q97_semdedup" -> (q97SemDedup _),
    "q100_pca_projection" -> (q100PcaProjection _),
    "q105_hard_negatives" -> (q105HardNegatives _),
    "q107_semantic_decontam" -> (q107SemanticDecontam _),
    "q80_ivf_sq8" -> (q80IvfSq8 _),
    "q89_pq_topk" -> (q89PqTopK _),
    "q90_ivf_pq" -> (q90IvfPq _),
    "q60_embedding_outliers" -> (q60EmbeddingOutliers _),
    "q22_cosine_topk" -> (q22CosineTopK _),
    "q23_ann_topk" -> (q23AnnTopK _),
    "q24_embedding_near_dup" -> (q24EmbeddingNearDup _),
    "q54_embedding_clusters" -> (q54EmbeddingClusters _),
    "q37_ivf_topk" -> (q37IvfTopK _),
    "q155_knn_density" -> (q155KnnDensity _),
    "q163_knn_density_auto" -> (q163KnnDensityAuto _),
    "q148_ivf_recall_curve" -> (q148IvfRecallCurve _),
    "q120_ann_index_topk" -> (q120AnnIndexTopK _),
    "q121_pq_index_topk" -> (q121PqIndexTopK _),
    "q122_semdedup_auto" -> (q122SemDedupAuto _),
    "q193_sampled_semdedup" -> (q193SampledSemDedup _),
    "q195_sampled_knn_density" -> (q195SampledKnnDensity _),
    "q39_kmeans" -> (q39Kmeans _),
    "q190_balanced_sample" -> (q190BalancedSample _))

  // ---- oracle SQL ----

  private val quantSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))"

  private def cosSql(a: String, b: String) =
    s"CAST(floor(list_dot_product($a,$b)/(sqrt(CAST(list_dot_product($a,$a) AS DOUBLE))" +
      s"*sqrt(CAST(list_dot_product($b,$b) AS DOUBLE)))*10000 + 0.5) AS BIGINT)"

  /** Nearest-centroid assignment (probes=1) of `e` against centroid CTE
    * `cent` — same expression shape as Similarity.ivfAssign. */
  private def assignSql(cent: String) =
    s"""SELECT vec_id, qe, label FROM (
        SELECT e.vec_id, e.qe, c.label,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.qe, c.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
              *sqrt(CAST(list_dot_product(c.ce,c.ce) AS DOUBLE))) DESC, c.label) AS r
        FROM e, $cent c) WHERE r = 1"""

  /** Element-wise integer mean per label over an assignment CTE `a`;
    * clusters that lost every member keep their centroid from `prev`. */
  private def stepSql(a: String, prev: String) =
    s"""SELECT label, list(c ORDER BY d) AS ce FROM (
          SELECT label, d, CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c
          FROM (SELECT label, generate_subscripts(qe,1) AS d, unnest(qe) AS v FROM $a)
          GROUP BY 1, 2) GROUP BY 1
        UNION ALL SELECT p.label, p.ce FROM $prev p
        WHERE p.label NOT IN (SELECT DISTINCT label FROM $a)"""

  /** Nearest-centroid assignment of CTE `e0` against centroid CTE `cent` —
    * assignSql with the vector CTE parameterized (the PQ oracle runs one
    * chain per subspace). */
  private def pqAssignSql(e0: String, cent: String) =
    s"""SELECT vec_id, qe, label FROM (
        SELECT t.vec_id, t.qe, c.label,
          row_number() OVER (PARTITION BY t.vec_id ORDER BY
            list_dot_product(t.qe, c.ce)/(sqrt(CAST(list_dot_product(t.qe,t.qe) AS DOUBLE))
              *sqrt(CAST(list_dot_product(c.ce,c.ce) AS DOUBLE))) DESC, c.label) AS r
        FROM $e0 t, $cent c) WHERE r = 1"""

  /** PQ/ADC oracle builder: per-subspace Lloyd's chains (seeds →
    * 2×(assign, step)), codebook/code unions, and the asymmetric-distance
    * ranking. `coarsePrune` adds q80-style coarse-list CTEs (centroids
    * from the label column, corpus r=1 / query r≤2 assignment) and
    * restricts scoring to list-matched (q_id, vec_id) pairs — the IVFADC
    * oracle; without it, every corpus vector scores (plain ADC, q89).
    * `rerank` keeps the top `ShortlistK` by ADC score as a shortlist and
    * re-ranks it by the exact full-precision cosine (q91). */
  private def pqOracleSql(coarsePrune: Boolean, rerank: Boolean = false): String = {
    val len = Dim / PqM
    val es = (0 until PqM).map(s =>
      s"es$s AS (SELECT vec_id, list_slice(qe, ${s * len + 1}, ${(s + 1) * len}) AS qe FROM e)")
    val sd = (0 until PqM).map(s =>
      s"""sd$s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS label,
            qe AS ce FROM (SELECT vec_id, qe FROM es$s ORDER BY vec_id LIMIT 8))""")
    val chains = (0 until PqM).map(s =>
      s"""a${s}1 AS (${pqAssignSql(s"es$s", s"sd$s")}),
         c${s}1 AS (${stepSql(s"a${s}1", s"sd$s")}),
         a${s}2 AS (${pqAssignSql(s"es$s", s"c${s}1")}),
         c${s}2 AS (${stepSql(s"a${s}2", s"c${s}1")}),
         af$s AS (SELECT vec_id, $s AS sub, label FROM (${pqAssignSql(s"es$s", s"c${s}2")}))""")
    val cbUnion = (0 until PqM).map(s => s"SELECT $s AS sub, label, ce FROM c${s}2")
      .mkString(" UNION ALL ")
    val codesUnion = (0 until PqM).map(s => s"SELECT vec_id, sub, label FROM af$s")
      .mkString(" UNION ALL ")
    // coarse-list CTEs mirror q80's: per-label element means, corpus r=1
    // assignment, query r<=2 assignment, list-matched candidate pairs
    val coarse = if (!coarsePrune) "" else
      raw""",
       pe AS (SELECT clab, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
       cagg AS (SELECT clab, d,
           CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
       ccent AS (SELECT clab, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
       ca AS (SELECT vec_id, clab FROM (
           SELECT e.vec_id, ccent.clab,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.qe, ccent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                 *sqrt(CAST(list_dot_product(ccent.ce,ccent.ce) AS DOUBLE))) DESC, ccent.clab) AS r
           FROM e, ccent) WHERE r <= 1),
       qa AS (SELECT vec_id AS q_id, clab FROM (
           SELECT e.vec_id, ccent.clab,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_dot_product(e.qe, ccent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                 *sqrt(CAST(list_dot_product(ccent.ce,ccent.ce) AS DOUBLE))) DESC, ccent.clab) AS r
           FROM e, ccent WHERE e.vec_id < 10) WHERE r <= 2),
       cand AS (SELECT qa.q_id, ca.vec_id FROM ca JOIN qa USING (clab))"""
    val scoredSql =
      if (coarsePrune)
        raw"""SELECT l.q_id, c.vec_id, CAST(sum(pd) AS BIGINT) AS dot
         FROM codes c JOIN cand ON cand.vec_id = c.vec_id
         JOIN lut l ON l.q_id = cand.q_id AND l.sub = c.sub AND l.label = c.label
         GROUP BY 1, 2"""
      else
        raw"""SELECT l.q_id, c.vec_id, CAST(sum(pd) AS BIGINT) AS dot
         FROM codes c JOIN lut l USING (sub, label) GROUP BY 1, 2"""
    val eCte =
      if (coarsePrune) s"e AS (SELECT vec_id, label AS clab, $quantSql AS qe FROM embeddings)"
      else s"e AS (SELECT vec_id, $quantSql AS qe FROM embeddings)"
    raw"""WITH $eCte,
       ${es.mkString(",\n")},
       ${sd.mkString(",\n")},
       ${chains.mkString(",\n")},
       cb AS ($cbUnion),
       cbn AS (SELECT sub, label, ce,
           CAST(list_dot_product(ce, ce) AS BIGINT) AS cn2 FROM cb),
       codes AS ($codesUnion),
       rn AS (SELECT codes.vec_id, CAST(sum(cn2) AS BIGINT) AS rn2
         FROM codes JOIN cbn USING (sub, label) GROUP BY 1),
       qs AS (SELECT vec_id AS q_id, qe FROM e WHERE vec_id < 10),
       qn AS (SELECT q_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS qn2 FROM qs),
       lut AS (SELECT q_id, sub, label,
           CAST(list_dot_product(list_slice(qe, sub*$len + 1, (sub+1)*$len), ce) AS BIGINT) AS pd
         FROM qs, cbn)$coarse,
       scored AS ($scoredSql),
       ranked AS (SELECT s.q_id, s.vec_id AS neighbor_id,
           CAST(floor(dot/(sqrt(CAST(qn2 AS DOUBLE))*sqrt(CAST(rn2 AS DOUBLE)))*10000 + 0.5) AS BIGINT) AS cos_e4
         FROM scored s JOIN rn ON rn.vec_id = s.vec_id JOIN qn USING (q_id)
         WHERE s.q_id <> s.vec_id)
       ${if (!rerank)
        raw"""SELECT q_id, neighbor_id, cos_e4, CAST(rr AS INT) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY cos_e4 DESC, neighbor_id) AS rr FROM ranked)
         WHERE rr <= $TopK ORDER BY q_id, rank"""
      else
        raw""", sl AS (SELECT q_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY cos_e4 DESC, neighbor_id) AS rr FROM ranked)
           WHERE rr <= $ShortlistK),
         ex AS (SELECT sl.q_id, sl.neighbor_id, ${cosSql("qq.qe", "cc.qe")} AS cos_e4
           FROM sl JOIN e qq ON qq.vec_id = sl.q_id
           JOIN e cc ON cc.vec_id = sl.neighbor_id)
         SELECT q_id, neighbor_id, cos_e4, CAST(rr AS INT) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY cos_e4 DESC, neighbor_id) AS rr FROM ex)
         WHERE rr <= $TopK ORDER BY q_id, rank"""}"""
  }

  /** q174: the PQ oracle's per-subspace codebook chains (same seeds, same
    * 2-iteration steps, same assignment tie-breaks), reduced to integer
    * squared-L2 error per subspace instead of served as ADC top-k. */
  private def pqDistortionSql: String = {
    val len = Dim / PqM
    val es = (0 until PqM).map(s =>
      s"es$s AS (SELECT vec_id, list_slice(qe, ${s * len + 1}, ${(s + 1) * len}) AS qe FROM e)")
    val sd = (0 until PqM).map(s =>
      s"""sd$s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS label,
            qe AS ce FROM (SELECT vec_id, qe FROM es$s ORDER BY vec_id LIMIT 8))""")
    val chains = (0 until PqM).map(s =>
      s"""a${s}1 AS (${pqAssignSql(s"es$s", s"sd$s")}),
         c${s}1 AS (${stepSql(s"a${s}1", s"sd$s")}),
         a${s}2 AS (${pqAssignSql(s"es$s", s"c${s}1")}),
         c${s}2 AS (${stepSql(s"a${s}2", s"c${s}1")}),
         ef$s AS (${pqAssignSql(s"es$s", s"c${s}2")})""")
    val errUnion = (0 until PqM).map(s =>
      s"""SELECT CAST($s AS BIGINT) AS sub,
          CAST(list_dot_product(a.qe, a.qe) + list_dot_product(cb.ce, cb.ce)
            - 2*list_dot_product(a.qe, cb.ce) AS BIGINT) AS sq_err
        FROM ef$s a JOIN c${s}2 cb USING (label)""").mkString(" UNION ALL ")
    raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
       ${es.mkString(",\n")},
       ${sd.mkString(",\n")},
       ${chains.mkString(",\n")},
       errs AS ($errUnion)
       SELECT sub, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(sq_err) AS BIGINT) AS sum_sq_err,
         CAST(max(sq_err) AS BIGINT) AS max_sq_err,
         CAST(sum(sq_err) // count(*) AS BIGINT) AS mean_sq_err
       FROM errs GROUP BY 1 ORDER BY 1"""
  }

  private val planesCte =
    raw"""planes AS (SELECT p,
        [CAST(('0x'||substr(md5(p||':'||d),1,15)) AS BIGINT) % 1001 - 500 for d in range(0,$Dim)] AS w
      FROM range(0,$Planes) t(p))"""

  private val bucketsCte =
    raw"""e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
      bk AS (SELECT vec_id,
          CAST(sum(CASE WHEN list_dot_product(qe,w) > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM e, planes GROUP BY 1)"""

  val oracles: Map[String, String] = Map(
    "q89_pq_topk" -> pqOracleSql(coarsePrune = false),
    "q174_pq_distortion" -> pqDistortionSql,
    // q121 serves q89's search from the persisted code store — same
    // result, same oracle derivation
    "q121_pq_index_topk" -> pqOracleSql(coarsePrune = false),
    "q90_ivf_pq" -> pqOracleSql(coarsePrune = true),
    // q128 serves q90's IVFADC from the persisted composed index — same
    // result, same oracle derivation
    "q128_ivfpq_index_topk" -> pqOracleSql(coarsePrune = true),
    // q129 serves q124's Hamming search from persisted sign words — same
    // result, same oracle derivation
    "q129_hamming_index_topk" -> hammingTopKSql,
    "q91_pq_rerank" -> pqOracleSql(coarsePrune = false, rerank = true),
    "q107_semantic_decontam" ->
      raw"""WITH $planesCte, $bucketsCte,
         cb AS (SELECT e.vec_id, e.qe, bk.bucket FROM e JOIN bk USING (vec_id))
         SELECT c.vec_id, count(*) AS n_eval_hits, max(cos_e4) AS max_cos_e4
         FROM (SELECT c.vec_id, ${cosSql("c.qe", "ev.qe")} AS cos_e4
               FROM cb c JOIN cb ev ON c.bucket = ev.bucket
               WHERE c.vec_id >= 20 AND ev.vec_id < 20) c
         WHERE cos_e4 >= 2500 GROUP BY 1 ORDER BY 1""",
    "q105_hard_negatives" ->
      raw"""WITH q AS (SELECT vec_id AS q_id, label AS q_label, $quantSql AS qe
             FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, label, $quantSql AS ce FROM embeddings),
         s AS (SELECT q_id, vec_id, label, ${cosSql("qe", "ce")} AS cos_e4
               FROM q, c WHERE q_id <> vec_id AND q_label <> label),
         r AS (SELECT q_id, vec_id, label, cos_e4,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM s)
         SELECT q_id, vec_id AS neighbor_id, label AS neg_label, cos_e4,
           CAST(rank AS INT) AS rank
         FROM r WHERE rank <= $TopK ORDER BY q_id, rank""",
    "q100_pca_projection" -> {
      // one reference per CTE (normalize via max() OVER ()) + MATERIALIZED
      // hints — a doubly-referenced chain would inline-explode 2^iters
      val iterCtes = (1 to 8).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""v$k AS MATERIALIZED (SELECT d,
              CAST(floor(raw/greatest(max(abs(raw)) OVER (), 1)*1000 + 0.5) AS BIGINT) AS vv
              FROM (SELECT i AS d, CAST(sum(c * vv) AS BIGINT) AS raw
                FROM cp JOIN $prev ON cp.j = $prev.d GROUP BY 1))"""
      }.mkString(",\n")
      raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         pe AS (SELECT vec_id, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         m AS (SELECT d, CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS m
           FROM pe GROUP BY 1),
         ma AS (SELECT list(m ORDER BY d) AS marr FROM m),
         c AS MATERIALIZED (SELECT vec_id,
             [qe[i+1] - marr[i+1] for i in range(0, len(qe))] AS ce
           FROM e, ma),
         pc AS (SELECT vec_id, generate_subscripts(ce, 1) AS d, unnest(ce) AS v FROM c),
         cp AS MATERIALIZED (SELECT d1.d AS i, d2.d AS j, CAST(sum(d1.v * d2.v) AS BIGINT) AS c
           FROM pc d1 JOIN pc d2 USING (vec_id) GROUP BY 1, 2),
         v0 AS (SELECT DISTINCT i AS d, CAST(1000 AS BIGINT) AS vv FROM cp),
         $iterCtes,
         va AS (SELECT list(vv ORDER BY d) AS varr FROM v8)
         SELECT vec_id, CAST(list_dot_product(ce, varr) AS BIGINT) AS pc1_proj
         FROM c, va ORDER BY vec_id"""
    },
    "q97_semdedup" -> semDedupOracleSql("8"),
    // q122: identical derivation with k DERIVED like semDedupAuto does —
    // ⌈count(*) / 63⌉ — so the oracle agrees at every scale it runs at
    "q122_semdedup_auto" -> semDedupOracleSql(
      "(SELECT CAST(ceil(count(*)/63.0) AS BIGINT) FROM embeddings)"),
    // q193: the same derivation over the mod-4 id-hash sample, k derived
    // from the SAMPLED count — the 16×-smaller assignment cross-join is
    // DuckDB-feasible at sf1.0 where the full-frame q122 oracle ENOSPCs
    "q193_sampled_semdedup" -> semDedupOracleSql(
      "(SELECT CAST(ceil(count(*)/63.0) AS BIGINT) FROM e)", sampledEmbWhere)) ++
    oraclesMid ++ oraclesMid2 ++ oraclesTail

  // the mod-4 id-hash sample predicate — mirrors [[sampledQuarter]] exactly
  // (lazy: referenced from the `oracles` initializer above its definition)
  private lazy val sampledEmbWhere =
    " WHERE CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT) % 4 = 0"

  /** The SemDeDup oracle chain (seeds → 2×(assign, step) → within-cluster
    * pairs → recursive components → keep-the-outlier), parameterized by
    * the seed-count SQL and the base-frame restriction so the manual-k
    * (q97), derived-k (q122) and sampled (q193) surfaces share one
    * derivation. */
  private def semDedupOracleSql(seedLimit: String, where: String = ""): String =
      raw"""WITH RECURSIVE e AS (SELECT vec_id, $quantSql AS qe FROM embeddings$where),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS label, qe AS ce
                   FROM (SELECT vec_id, qe FROM e ORDER BY vec_id LIMIT $seedLimit)),
         a1 AS (${assignSql("seeds")}),
         c1 AS (${stepSql("a1", "seeds")}),
         a2 AS (${assignSql("c1")}),
         c2 AS (${stepSql("a2", "c1")}),
         af AS (${assignSql("c2")}),
         epairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
           FROM af a JOIN af b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE ${cosSql("a.qe", "b.qe")} >= 3500),
         edges AS (SELECT a_id AS s, b_id AS d FROM epairs
                   UNION ALL SELECT b_id, a_id FROM epairs),
         reach(id, lab) AS (
           SELECT DISTINCT s AS id, s AS lab FROM edges
           UNION
           SELECT e2.d, r.lab FROM reach r JOIN edges e2 ON e2.s = r.id
           WHERE r.lab < e2.d),
         comp AS (SELECT min(lab) AS cluster, id AS vec_id FROM reach GROUP BY id),
         dist AS (SELECT af.vec_id,
             CAST(list_dot_product(af.qe, af.qe) + list_dot_product(c2.ce, c2.ce)
               - 2*list_dot_product(af.qe, c2.ce) AS BIGINT) AS dist_sq
           FROM af JOIN c2 USING (label)),
         r AS (SELECT comp.cluster, comp.vec_id, dist.dist_sq,
             row_number() OVER (PARTITION BY cluster
               ORDER BY dist_sq DESC, comp.vec_id) AS rn
           FROM comp JOIN dist ON dist.vec_id = comp.vec_id)
         SELECT cluster, vec_id, dist_sq, rn = 1 AS keep
         FROM r ORDER BY cluster, vec_id"""

  private lazy val oraclesMid: Map[String, String] = Map(
    // q134: the stored assignment is ivfAssign(probes=1) against the
    // label-derived centroids — the same ca CTE the IVF oracles replay —
    // then per-list counts with empty lists kept, share/skew e4 in the
    // engine's exact operation order
    "q134_ann_index_stats" ->
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d,
             CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         ca AS (SELECT vec_id, label FROM (
             SELECT e.vec_id, cent.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent) WHERE r <= 1),
         counts AS (SELECT label, count(*) AS n FROM ca GROUP BY 1),
         sized AS (SELECT cent.label, coalesce(counts.n, 0) AS n_vectors
           FROM cent LEFT JOIN counts USING (label)),
         t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS nlists FROM sized)
         SELECT label, CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(floor(CAST(n_vectors AS DOUBLE)/total*10000 + 0.5) AS BIGINT) AS share_e4,
           CAST(floor(CAST(n_vectors*nlists AS DOUBLE)/total*10000 + 0.5) AS BIGINT) AS skew_e4
         FROM sized, t ORDER BY label""",
    // q133: both snapshots' centroids via the q60 floor-mean CTE shape,
    // exact-integer displacement by the three-dot identity
    "q133_embedding_drift" ->
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pa AS (SELECT label, generate_subscripts(qe,1) AS d, unnest(qe) AS v
           FROM e WHERE vec_id % 2 = 0),
         ca AS (SELECT label, d, CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c
           FROM pa GROUP BY 1, 2),
         centa AS (SELECT label, list(c ORDER BY d) AS ce FROM ca GROUP BY 1),
         na AS (SELECT label, count(*) AS n_a FROM e WHERE vec_id % 2 = 0 GROUP BY 1),
         pb AS (SELECT label, generate_subscripts(qe,1) AS d, unnest(qe) AS v
           FROM e WHERE vec_id % 2 = 1),
         cb AS (SELECT label, d, CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c
           FROM pb GROUP BY 1, 2),
         centb AS (SELECT label, list(c ORDER BY d) AS ce FROM cb GROUP BY 1),
         nb AS (SELECT label, count(*) AS n_b FROM e WHERE vec_id % 2 = 1 GROUP BY 1),
         aa AS (SELECT centa.label, na.n_a, centa.ce FROM centa JOIN na USING (label)),
         bb AS (SELECT centb.label, nb.n_b, centb.ce FROM centb JOIN nb USING (label))
         SELECT coalesce(aa.label, bb.label) AS label, aa.n_a, bb.n_b,
           CASE WHEN aa.ce IS NOT NULL AND bb.ce IS NOT NULL THEN
             CAST(list_dot_product(aa.ce, aa.ce) + list_dot_product(bb.ce, bb.ce)
               - 2*list_dot_product(aa.ce, bb.ce) AS BIGINT) END AS drift_sq,
           CASE WHEN aa.ce IS NOT NULL THEN
             CAST(list_dot_product(aa.ce, aa.ce) AS BIGINT) END AS norm_a_sq,
           CASE WHEN bb.ce IS NOT NULL THEN
             CAST(list_dot_product(bb.ce, bb.ce) AS BIGINT) END AS norm_b_sq
         FROM aa FULL OUTER JOIN bb ON aa.label = bb.label
         ORDER BY label""",
    "q144_label_affinity" ->
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe,1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d, CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c
           FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
         cn AS (SELECT cent.label, nn.n, cent.ce FROM cent JOIN nn USING (label)),
         p AS (SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
             CAST(list_dot_product(a.ce, b.ce) AS BIGINT) AS dot,
             CAST(list_dot_product(a.ce, a.ce) AS BIGINT) AS norm_a_sq,
             CAST(list_dot_product(b.ce, b.ce) AS BIGINT) AS norm_b_sq
           FROM cn a JOIN cn b ON a.label < b.label)
         SELECT label_a, label_b, n_a, n_b, dot, norm_a_sq, norm_b_sq,
           CAST(CASE WHEN norm_a_sq > 0 AND norm_b_sq > 0 THEN
             (CASE WHEN dot < 0 THEN -1 ELSE 1 END) * ((dot*dot*10000) // (norm_a_sq*norm_b_sq))
             ELSE 0 END AS BIGINT) AS aff_e4
         FROM p ORDER BY label_a, label_b""",
    // q130 serves q80's IVF+SQ8 composition from the persisted store —
    // same result, same oracle derivation
    "q130_sq8_index_topk" -> oraclesMidQ80,
    "q80_ivf_sq8" -> oraclesMidQ80)

  private lazy val oraclesMidQ80: String =
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d,
             CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         ca AS (SELECT vec_id, label FROM (
             SELECT e.vec_id, cent.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent) WHERE r <= 1),
         qa AS (SELECT vec_id AS q_id, label FROM (
             SELECT e.vec_id, cent.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent WHERE e.vec_id < 10) WHERE r <= 2),
         b AS (SELECT d, min(v) AS l, max(v) AS h FROM pe GROUP BY 1),
         ba AS (SELECT list(l ORDER BY d) AS lo, list(h ORDER BY d) AS hi FROM b),
         codes AS (SELECT vec_id,
             [CAST(floor(CAST((qe[i+1]-lo[i+1])*255 AS DOUBLE)/greatest(hi[i+1]-lo[i+1],1)) AS BIGINT)
              for i in range(0, len(qe))] AS cq
           FROM e, ba),
         rec AS (SELECT vec_id,
             [lo[i+1]*255 + cq[i+1]*(hi[i+1]-lo[i+1]) for i in range(0, len(cq))] AS re
           FROM codes, ba),
         s AS (SELECT qa.q_id, ca.vec_id, ${cosSql("rq.re", "rc.re")} AS cos_e4
           FROM qa JOIN ca USING (label)
           JOIN rec rq ON rq.vec_id = qa.q_id
           JOIN rec rc ON rc.vec_id = ca.vec_id
           WHERE qa.q_id <> ca.vec_id),
         r AS (SELECT q_id, vec_id, cos_e4,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM s)
         SELECT q_id, vec_id AS neighbor_id, cos_e4, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= $TopK ORDER BY q_id, rank"""

  private lazy val oraclesMid2: Map[String, String] = Map(
    // q172: the same quantize → bounds → code → reconstruct chain as q65's
    // head, reduced per dimension; sums CAST from DuckDB's HUGEINT.
    "q172_sq8_distortion" ->
      raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         pe AS (SELECT generate_subscripts(qe, 1) AS d1, unnest(qe) AS v FROM e),
         b AS (SELECT d1, min(v) AS l, max(v) AS h FROM pe GROUP BY 1),
         er AS (SELECT pe.d1,
             v*255 - (l*255 + CAST(floor(CAST((v-l)*255 AS DOUBLE)/greatest(h-l,1)) AS BIGINT)*(h-l)) AS err
           FROM pe JOIN b USING (d1))
         SELECT CAST(d1 - 1 AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(err) AS BIGINT) AS sum_err,
           CAST(sum(err*err) AS BIGINT) AS sum_sq_err,
           CAST(max(err) AS BIGINT) AS max_err,
           CAST(sum(err)*10000 // count(*) AS BIGINT) AS mean_err_e4
         FROM er GROUP BY 1 ORDER BY 1""",
    "q65_sq8_recall" ->
      raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         pe AS (SELECT generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         b AS (SELECT d, min(v) AS l, max(v) AS h FROM pe GROUP BY 1),
         ba AS (SELECT list(l ORDER BY d) AS lo, list(h ORDER BY d) AS hi FROM b),
         codes AS (SELECT vec_id,
             [CAST(floor(CAST((qe[i+1]-lo[i+1])*255 AS DOUBLE)/greatest(hi[i+1]-lo[i+1],1)) AS BIGINT)
              for i in range(0, len(qe))] AS cq
           FROM e, ba),
         rec AS (SELECT vec_id,
             [lo[i+1]*255 + cq[i+1]*(hi[i+1]-lo[i+1]) for i in range(0, len(cq))] AS re
           FROM codes, ba),
         sq AS (SELECT q.vec_id AS q_id, c.vec_id, ${cosSql("q.re", "c.re")} AS scos
           FROM rec q JOIN rec c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 10),
         sqk AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY scos DESC, vec_id) AS r
             FROM sq) WHERE r <= $TopK),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id, ${cosSql("q.qe", "c.qe")} AS cos_e4
           FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
         exk AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS r
             FROM ex) WHERE r <= $TopK),
         hits AS (SELECT q_id, count(*) AS n_hits
           FROM sqk JOIN exk USING (q_id, vec_id) GROUP BY 1)
         SELECT q.vec_id AS q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(floor(coalesce(n_hits, 0)/$TopK.0*10000 + 0.5) AS BIGINT) AS recall_e4
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
         LEFT JOIN hits ON q.vec_id = hits.q_id ORDER BY q_id""",
    "q60_embedding_outliers" ->
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d,
             CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         s AS (SELECT vec_id, e.label,
             CAST(list_dot_product(e.qe, e.qe) + list_dot_product(cent.ce, cent.ce)
               - 2*list_dot_product(e.qe, cent.ce) AS BIGINT) AS dist_sq
             FROM e JOIN cent USING (label)),
         m AS (SELECT vec_id, label, dist_sq,
             CAST(floor(CAST(sum(dist_sq) OVER (PARTITION BY label) AS BIGINT)
               / (count(*) OVER (PARTITION BY label)) + 0.5) AS BIGINT) AS mean_dist
             FROM s)
         SELECT vec_id, label, dist_sq, dist_sq > 2*mean_dist AS is_outlier
         FROM m ORDER BY vec_id""",
    "q124_hamming_topk" -> hammingTopKSql,
    // q153: hammingTopKSql's word/shortlist chain with a shortlist-value
    // lateral (same windows, same tie-breaks per point), hits counted
    // against q22's exact chain.
    "q153_hamming_recall_curve" ->
      raw"""WITH sv(sl) AS (VALUES (5), (10), (20)),
         e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         b AS (SELECT e.vec_id, e.qe, w.w0, w.w1 FROM e JOIN (
             SELECT vec_id,
               CAST(sum(CASE WHEN v > 0 AND d <= 32 THEN CAST(power(2, d-1) AS BIGINT) ELSE 0 END) AS BIGINT) AS w0,
               CAST(sum(CASE WHEN v > 0 AND d > 32 THEN CAST(power(2, d-33) AS BIGINT) ELSE 0 END) AS BIGINT) AS w1
             FROM (SELECT vec_id, generate_subscripts(qe,1) AS d, unnest(qe) AS v FROM e)
             GROUP BY 1) w USING (vec_id)),
         s AS (SELECT q.vec_id AS q_id, c.vec_id, q.qe AS q_qe, c.qe AS c_qe,
               bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming
             FROM b q JOIN b c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
         slr AS (SELECT q_id, vec_id, q_qe, c_qe,
               row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS srk FROM s),
         rx AS (SELECT sv.sl AS sl, q_id, vec_id, ${cosSql("q_qe", "c_qe")} AS cos_e4
             FROM slr, sv WHERE srk <= sv.sl),
         r AS (SELECT sl, q_id, vec_id,
               row_number() OVER (PARTITION BY sl, q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM rx),
         hm AS (SELECT sl, q_id, vec_id FROM r WHERE rank <= $TopK),
         exq AS (SELECT q_id, vec_id FROM (
             SELECT qq.vec_id AS q_id, cc.vec_id AS vec_id,
               row_number() OVER (PARTITION BY qq.vec_id ORDER BY
                 ${cosSql("qq.qe", "cc.qe")} DESC, cc.vec_id) AS r
             FROM e qq JOIN e cc ON cc.vec_id <> qq.vec_id
             WHERE qq.vec_id < 10) WHERE r <= $TopK),
         hits AS (SELECT sl, CAST(count(*) AS BIGINT) AS n_hits
             FROM hm JOIN exq USING (q_id, vec_id) GROUP BY 1),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e WHERE vec_id < 10)
         SELECT CAST(sv.sl AS BIGINT) AS shortlist, nq.n AS n_queries,
           coalesce(hits.n_hits, 0) AS n_hits,
           CAST(coalesce(hits.n_hits, 0) * 10000 // (nq.n * $TopK) AS BIGINT) AS recall_e4
         FROM sv LEFT JOIN hits ON sv.sl = hits.sl, nq ORDER BY shortlist""",
    "q22_cosine_topk" ->
      raw"""WITH q AS (SELECT vec_id AS q_id, $quantSql AS qe FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, $quantSql AS ce FROM embeddings),
         s AS (SELECT q_id, vec_id, ${cosSql("qe", "ce")} AS cos_e4
               FROM q, c WHERE q_id <> vec_id),
         r AS (SELECT q_id, vec_id, cos_e4,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM s)
         SELECT q_id, vec_id AS neighbor_id, cos_e4, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= $TopK ORDER BY q_id, rank""",
    "q23_ann_topk" ->
      raw"""WITH $planesCte, $bucketsCte,
         cb AS (SELECT e.vec_id, e.qe, bk.bucket FROM e JOIN bk USING (vec_id)),
         qs AS (SELECT vec_id AS q_id, qe AS q_emb, bucket FROM cb WHERE vec_id < 10),
         s AS (SELECT q.q_id, c.vec_id, ${cosSql("q.q_emb", "c.qe")} AS cos_e4
               FROM qs q JOIN cb c ON q.bucket = c.bucket AND q.q_id <> c.vec_id),
         r AS (SELECT q_id, vec_id, cos_e4,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM s)
         SELECT q_id, vec_id AS neighbor_id, cos_e4, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= $TopK ORDER BY q_id, rank""",
    // q120 serves q37's search from the persisted index — same result,
    // same oracle derivation
    "q120_ann_index_topk" -> ivfTopKSql,
    "q37_ivf_topk" -> ivfTopKSql,
    // q155: q148's label-mean centroid + assignment CTEs; within-list
    // pairs ranked per anchor (cos desc, id), rank min(k, n_list-1)
    // selected, singletons kept via LEFT JOIN (null density surfaced).
    // q163: the q122 k-means chain (derived seed count, 2 iterations) +
    // q155's within-list kth-neighbor logic over the FINAL assignment;
    // q195 is the identical derivation over the mod-4 id-hash sample
    // (its 16×-smaller assignment cross-join is the sf1.0-feasible form)
    "q163_knn_density_auto" -> knnDensityAutoSql(),
    "q195_sampled_knn_density" -> knnDensityAutoSql(sampledEmbWhere)) ++
    oraclesTail2

  private def knnDensityAutoSql(where: String = ""): String =
      raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings$where),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS label, qe AS ce
                   FROM (SELECT vec_id, qe FROM e ORDER BY vec_id
                         LIMIT (SELECT CAST(ceil(count(*)/63.0) AS BIGINT) FROM e))),
         a1 AS (${assignSql("seeds")}),
         c1 AS (${stepSql("a1", "seeds")}),
         a2 AS (${assignSql("c1")}),
         c2 AS (${stepSql("a2", "c1")}),
         ca AS (${assignSql("c2")}),
         sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_list FROM ca GROUP BY 1),
         p AS (SELECT a.vec_id AS a_id, a.label AS label, b.vec_id AS b_id,
             ${cosSql("a.qe", "b.qe")} AS cos_e4
           FROM ca a JOIN ca b ON a.label = b.label AND a.vec_id <> b.vec_id),
         r AS (SELECT a_id, label, cos_e4,
             row_number() OVER (PARTITION BY a_id ORDER BY cos_e4 DESC, b_id) AS rk
           FROM p),
         kth AS (SELECT r.a_id, r.cos_e4 FROM r JOIN sz USING (label)
           WHERE rk = least($TopK, n_list - 1))
         SELECT ca.vec_id, ca.label, sz.n_list, kth.cos_e4 AS kth_cos_e4
         FROM ca JOIN sz USING (label) LEFT JOIN kth ON kth.a_id = ca.vec_id
         ORDER BY ca.vec_id"""

  private lazy val oraclesTail2: Map[String, String] = Map(
    "q155_knn_density" ->
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d,
             CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         ca AS (${assignSql("cent")}),
         sz AS (SELECT label, CAST(count(*) AS BIGINT) AS n_list FROM ca GROUP BY 1),
         p AS (SELECT a.vec_id AS a_id, a.label AS label, b.vec_id AS b_id,
             ${cosSql("a.qe", "b.qe")} AS cos_e4
           FROM ca a JOIN ca b ON a.label = b.label AND a.vec_id <> b.vec_id),
         r AS (SELECT a_id, label, cos_e4,
             row_number() OVER (PARTITION BY a_id ORDER BY cos_e4 DESC, b_id) AS rk
           FROM p),
         kth AS (SELECT r.a_id, r.cos_e4 FROM r JOIN sz USING (label)
           WHERE rk = least($TopK, n_list - 1))
         SELECT ca.vec_id, ca.label, sz.n_list, kth.cos_e4 AS kth_cos_e4
         FROM ca JOIN sz USING (label) LEFT JOIN kth ON kth.a_id = ca.vec_id
         ORDER BY ca.vec_id""",
    "q148_ivf_recall_curve" ->
      raw"""WITH pv(p) AS (VALUES (1), (2), (4)),
         e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d,
             CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         ca AS (SELECT vec_id, label FROM (
             SELECT e.vec_id, cent.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent) WHERE r <= 1),
         qa AS (SELECT p, q_id, label FROM (
             SELECT pv.p AS p, e.vec_id AS q_id, cent.label,
               row_number() OVER (PARTITION BY pv.p, e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent, pv WHERE e.vec_id < 10) WHERE r <= p),
         s AS (SELECT qa.p, qa.q_id, ca.vec_id, ${cosSql("qq.qe", "cc.qe")} AS cos_e4
               FROM qa JOIN ca ON qa.label = ca.label AND qa.q_id <> ca.vec_id
               JOIN e qq ON qq.vec_id = qa.q_id
               JOIN e cc ON cc.vec_id = ca.vec_id),
         rk AS (SELECT p, q_id, vec_id,
               row_number() OVER (PARTITION BY p, q_id ORDER BY cos_e4 DESC, vec_id) AS rank
             FROM s),
         iv AS (SELECT p, q_id, vec_id FROM rk WHERE rank <= $TopK),
         ex AS (SELECT q_id, vec_id FROM (
             SELECT qq.vec_id AS q_id, cc.vec_id AS vec_id,
               row_number() OVER (PARTITION BY qq.vec_id ORDER BY
                 ${cosSql("qq.qe", "cc.qe")} DESC, cc.vec_id) AS r
             FROM e qq JOIN e cc ON cc.vec_id <> qq.vec_id
             WHERE qq.vec_id < 10) WHERE r <= $TopK),
         hits AS (SELECT p, CAST(count(*) AS BIGINT) AS n_hits
             FROM iv JOIN ex USING (q_id, vec_id) GROUP BY 1),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e WHERE vec_id < 10)
         SELECT CAST(pv.p AS BIGINT) AS probes, nq.n AS n_queries,
           coalesce(hits.n_hits, 0) AS n_hits,
           CAST(coalesce(hits.n_hits, 0) * 10000 // (nq.n * $TopK) AS BIGINT) AS recall_e4
         FROM pv LEFT JOIN hits ON pv.p = hits.p, nq ORDER BY probes""")

  // shared by q124 (ad-hoc) and q129 (served from the persisted sign-word
  // store): sign words rebuilt as exact power-of-two sums per 32-dim half
  // (2^31 max — inside exact-double range; see SignBitsWord scaladoc),
  // then the same shortlist-by-Hamming / rerank-by-cosine chain.
  private lazy val hammingTopKSql: String =
    raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         b AS (SELECT e.vec_id, e.qe, w.w0, w.w1 FROM e JOIN (
             SELECT vec_id,
               CAST(sum(CASE WHEN v > 0 AND d <= 32 THEN CAST(power(2, d-1) AS BIGINT) ELSE 0 END) AS BIGINT) AS w0,
               CAST(sum(CASE WHEN v > 0 AND d > 32 THEN CAST(power(2, d-33) AS BIGINT) ELSE 0 END) AS BIGINT) AS w1
             FROM (SELECT vec_id, generate_subscripts(qe,1) AS d, unnest(qe) AS v FROM e)
             GROUP BY 1) w USING (vec_id)),
         s AS (SELECT q.vec_id AS q_id, c.vec_id, q.qe AS q_qe, c.qe AS c_qe,
               bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming
             FROM b q JOIN b c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
         sl AS (SELECT q_id, vec_id, q_qe, c_qe, hamming,
               row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS srk FROM s),
         ex AS (SELECT q_id, vec_id, hamming, ${cosSql("q_qe", "c_qe")} AS cos_e4
             FROM sl WHERE srk <= 20),
         r AS (SELECT q_id, vec_id, hamming, cos_e4,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM ex)
         SELECT q_id, vec_id AS neighbor_id, CAST(hamming AS INT) AS hamming,
           cos_e4, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= $TopK ORDER BY q_id, rank"""

  private lazy val ivfTopKSql: String =
      raw"""WITH e AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         pe AS (SELECT label, generate_subscripts(qe, 1) AS d, unnest(qe) AS v FROM e),
         cagg AS (SELECT label, d,
             CAST(floor(sum(v)/count(*) + 0.5) AS BIGINT) AS c FROM pe GROUP BY 1, 2),
         cent AS (SELECT label, list(c ORDER BY d) AS ce FROM cagg GROUP BY 1),
         ca AS (SELECT vec_id, label FROM (
             SELECT e.vec_id, cent.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent) WHERE r <= 1),
         qa AS (SELECT vec_id AS q_id, label FROM (
             SELECT e.vec_id, cent.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.qe, cent.ce)/(sqrt(CAST(list_dot_product(e.qe,e.qe) AS DOUBLE))
                   *sqrt(CAST(list_dot_product(cent.ce,cent.ce) AS DOUBLE))) DESC, cent.label) AS r
             FROM e, cent WHERE e.vec_id < 10) WHERE r <= 2),
         s AS (SELECT qa.q_id, ca.vec_id, ${cosSql("qq.qe", "cc.qe")} AS cos_e4
               FROM qa JOIN ca ON qa.label = ca.label AND qa.q_id <> ca.vec_id
               JOIN e qq ON qq.vec_id = qa.q_id
               JOIN e cc ON cc.vec_id = ca.vec_id),
         r AS (SELECT q_id, vec_id, cos_e4,
               row_number() OVER (PARTITION BY q_id ORDER BY cos_e4 DESC, vec_id) AS rank FROM s)
         SELECT q_id, vec_id AS neighbor_id, cos_e4, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= $TopK ORDER BY q_id, rank"""

  private lazy val oraclesTail: Map[String, String] = Map(
    "q24_embedding_near_dup" ->
      raw"""WITH $planesCte, $bucketsCte,
         cb AS (SELECT e.vec_id, e.qe, bk.bucket FROM e JOIN bk USING (vec_id))
         SELECT a_id, b_id, cos_e4 FROM (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.qe", "b.qe")} AS cos_e4
           FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         WHERE cos_e4 >= 3500 ORDER BY 1, 2""",
    "q54_embedding_clusters" ->
      raw"""WITH RECURSIVE $planesCte, $bucketsCte,
         cb AS (SELECT e.vec_id, e.qe, bk.bucket FROM e JOIN bk USING (vec_id)),
         epairs AS (SELECT a_id, b_id FROM (
             SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.qe", "b.qe")} AS cos_e4
             FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
           WHERE cos_e4 >= 3500),
         edges AS (SELECT a_id AS s, b_id AS d FROM epairs
                   UNION ALL SELECT b_id, a_id FROM epairs),
         reach(id, lab) AS (
           SELECT DISTINCT s AS id, s AS lab FROM edges
           UNION
           SELECT e2.d, r.lab FROM reach r JOIN edges e2 ON e2.s = r.id
           WHERE r.lab < e2.d)
         SELECT min(lab) AS cluster, id AS vec_id, min(lab) = id AS is_canonical
         FROM reach GROUP BY id ORDER BY 1, 2""",
    "q39_kmeans" ->
      raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS label, qe AS ce
                   FROM (SELECT vec_id, qe FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (${assignSql("seeds")}),
         c1 AS (${stepSql("a1", "seeds")}),
         a2 AS (${assignSql("c1")}),
         c2 AS (${stepSql("a2", "c1")}),
         af AS (${assignSql("c2")}),
         sizes AS (SELECT label, count(*) AS n_members FROM af GROUP BY 1)
         SELECT c2.label, coalesce(n_members, 0) AS n_members,
           md5(array_to_string(c2.ce, ',')) AS ce_md5,
           CAST(list_dot_product(c2.ce, c2.ce) AS BIGINT) AS ce_norm2
         FROM c2 LEFT JOIN sizes USING (label) ORDER BY c2.label""",
    // q190: q39's assignment chain, then integer sqrt-balanced allocation
    // (weights e3-quantized BEFORE summing so the normalizer is integer)
    // and the q45/q98 deterministic md5 sampling bucket
    "q190_balanced_sample" ->
      raw"""WITH e AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS label, qe AS ce
                   FROM (SELECT vec_id, qe FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (${assignSql("seeds")}),
         c1 AS (${stepSql("a1", "seeds")}),
         a2 AS (${assignSql("c1")}),
         c2 AS (${stepSql("a2", "c1")}),
         af AS (${assignSql("c2")}),
         sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE))*1000 + 0.5) AS BIGINT) AS w_e3
           FROM af GROUP BY 1),
         tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
             CAST(sum(w_e3) AS BIGINT) AS sumw FROM sizes),
         rates AS (SELECT label, n_vecs, w_e3,
             least(10000, ((10000 * w_e3) // sumw) * (total // 2) // n_vecs) AS rate_e4
           FROM sizes, tot)
         SELECT rates.label, n_vecs, w_e3, rate_e4,
           CAST(count(*) FILTER (WHERE
             CAST(('0x'||substr(md5('samp:'||CAST(af.vec_id AS VARCHAR)),1,15)) AS BIGINT)
               % 10000 < rate_e4) AS BIGINT) AS n_sampled
         FROM af JOIN rates USING (label)
         GROUP BY rates.label, n_vecs, w_e3, rate_e4 ORDER BY rates.label""")
}
