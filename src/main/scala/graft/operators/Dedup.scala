package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All are declarative DataFrame pipelines —
  * Catalyst plans them, AQE handles skew — and every hash is md5-derived so
  * the DuckDB oracle reproduces each result exactly.
  *
  * Scale notes (the 100 TB contract):
  *   - exact dedup: one shuffle on the 128-bit fingerprint; fingerprints are
  *     uniformly distributed so no skew.
  *   - MinHash/LSH: signatures and hashed shingle sets are ROW-LOCAL array
  *     expressions (signatureFrame) — zero shuffle before candidate
  *     generation, which joins on (band, band_hash) — uniform md5 keys, so
  *     the join partitions evenly. This is THE near-dup path at scale: no
  *     all-pairs stage ever materializes; the verify stage only touches
  *     LSH candidates.
  *   - SimHash: row-local 60-bit signatures (codegen'd SimHash60), banded
  *     by pigeonhole (4 chunks of 15 bits ⇒ hamming ≤ 3 guarantees a
  *     shared chunk); candidates join on chunk value, the all-pairs
  *     comparison is never built.
  *   - n-gram Jaccard: the bare shingle-join candidate generator degrades on
  *     very common shingles (stopword 5-grams); at scale always go through
  *     LSH candidates first — provided composed as `nearDupPairs`.
  */
object Dedup {

  /** Exact dedup on the canonical fingerprint: one row per distinct content,
    * keeping the smallest id as survivor. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, shingle) pairs, distinct per doc. Repartitions by id BEFORE the
    * explode: (a) the ~100× row blow-up happens on all cores even when the
    * source is a handful of parquet files, and (b) hash-partitioning by id
    * pre-satisfies the per-doc groupBys downstream, so the exploded rows
    * are never shuffled — only the compact doc rows are. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(fanoutPartitions(df), col(idCol))
      .select(col(idCol), explode(charShingles(col(textCol), shingleN)).as("sh"))

  /** Explicit partition count for pre-explode repartitions, derived from
    * the INPUT's size instead of the session's core count (guide §2:
    * scale-adaptive partitioning): one task per `targetBytesPerTask` of
    * (compressed) input, floored at 1, capped at the session's shuffle
    * width so a real corpus still spreads over every core (at 100 TB the
    * cap binds and behavior is unchanged vs prior rounds).
    *
    * The default target is calibrated to the MEASURED per-byte cost of
    * this family's row-local text stages (shingle-md5 signing, winnowing,
    * rolling grams: ~10 µs per compressed byte at sf0.1, i.e. ~300 ms of
    * CPU per 32 KiB task — and the downstream pair-verify stages inherit
    * this partitioning, so the target also sizes their parallelism). A
    * round-14 probe at 1 MiB/task serialized ~10–20 CPU-seconds of
    * signing onto one task and regressed the family up to 6×; 32 KiB
    * keeps a 584 KB corpus on ~19 tasks (within 2× of the old core-count
    * spread) while a 1-in-32 sampled run drops to the 1 task it actually
    * needs (q192 measured 2.2× faster there). Catalyst's sizeInBytes is
    * the file size for scans and a coarse upper estimate for derived
    * frames; unknown/huge estimates saturate to the cap — the old
    * behavior. */
  private[graft] def fanoutPartitions(df: DataFrame,
                                      targetBytesPerTask: Long = 32L << 10): Int = {
    val cap = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val byInput = (bytes + targetBytesPerTask - 1) / targetBytesPerTask
    if (byInput < 1) 1
    else if (byInput > cap) cap
    else byInput.toInt
  }

  /** Affine MinHash family over one md5-derived base hash:
    *   h    = stableHash60(shingle) mod P20   (P20 = 1048573, prime < 2^20)
    *   mh_i = (A_i * h + B_i) mod P31         (P31 = 2147483647 = 2^31-1)
    * One md5 per shingle (not k), integer min-aggregates (8-byte state ×16
    * instead of 32-byte hex strings ×16), and every value stays below 2^51
    * so the arithmetic is exact in any engine — the DuckDB oracle recomputes
    * it verbatim. */
  val MinhashP20 = 1048573L
  val MinhashP31 = 2147483647L
  def affineA(i: Int): Long = 1000003L + 7919L * i
  def affineB(i: Int): Long = 12345L + 104729L * i

  /** Per-doc signature+set frame: (id, sz, shs[hashed shingle set],
    * mh_0..mh_{k-1}) computed ENTIRELY row-locally — shingling, hashing,
    * and the k affine minima are array expressions, so signature
    * computation is embarrassingly parallel with zero shuffle; only the
    * band join downstream moves data. One md5 per shingle, k cheap passes
    * over the hashed array. */
  private[operators] def signatureFrame(df: DataFrame, idCol: String, textCol: String,
                                        k: Int, shingleN: Int): DataFrame =
    signatureFrameWith(df, idCol, textCol, k, shingleN, Nil)

  /** signatureFrame plus caller-supplied extra row-local columns computed
    * in the SAME text projection — the fused-scan seam: a funnel that needs
    * both the exact-dedup fingerprint and the near-dup signature pays one
    * pass over the text instead of two. */
  private def signatureFrameWith(df: DataFrame, idCol: String, textCol: String,
                                 k: Int, shingleN: Int,
                                 extra: Seq[(String, Column)]): DataFrame = {
    val extraNames = extra.map(_._1)
    // fused shingle+hash expression: one JVM pass per doc instead of two
    // interpreted HOF lambdas and a hex-string md5 round-trip per shingle
    // (bit-identical to the composable form — see HashedShingles)
    val hashed = df
      .select(col(idCol), col(textCol))
      .repartition(fanoutPartitions(df)) // spread row-local work BEFORE shingling
      .select(col(idCol) +:
        org.apache.spark.sql.graft.MinHashExprs
          .hashedShingles(col(textCol), shingleN, distinct = true).as("__hs") +:
        extra.map { case (n, c) => c.as(n) }: _*)
      .select(col(idCol) +:
        size(col("__hs")).cast("long").as("sz") +:
        col("__hs") +:
        extraNames.map(col): _*)
    // all k minima in one codegen'd pass (MinHashSigs) instead of k
    // interpreted array_min(transform(..)) traversals
    val sigs = org.apache.spark.sql.graft.MinHashExprs.minhashSigs(
      col("__hs"), k, MinhashP20, MinhashP31, 1000003L, 7919L, 12345L, 104729L)
    // shs is sorted ascending: one row-local sort per DOC here buys the
    // verify stage a zero-allocation sorted-merge intersect per PAIR
    // (candidate pairs outnumber docs ~30x under LSH banding)
    hashed
      .select(col(idCol) +: col("sz") +:
        array_sort(array_distinct(col("__hs"))).as("shs") +: sigs.as("__mh") +:
        extraNames.map(col): _*)
      .select(col(idCol) +: col("sz") +: col("shs") +:
        ((0 until k).map(i => element_at(col("__mh"), i + 1).as(s"mh_$i")) ++
          extraNames.map(col)): _*)
  }

  /** k-wide MinHash signature per doc (see signatureFrame — shuffle-free). */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, shingleN: Int = 5): DataFrame =
    signatureFrame(df, idCol, textCol, k, shingleN)
      .select(col(idCol) +: (0 until k).map(i => col(s"mh_$i")): _*)

  /** LSH banding: b bands × r rows (k = b*r); band hash = md5 of the band's
    * minhashes. Docs sharing any band hash are near-dup candidates. */
  def lshBands(sig: DataFrame, idCol: String, b: Int, r: Int): DataFrame =
    bandFrame(sig, Seq(idCol), b, r)

  /** One (keep..., band, band_hash) row per doc and band — the single
    * band-struct builder behind [[lshBands]] and [[bandRows]]. */
  private def bandFrame(sig: DataFrame, keep: Seq[String], b: Int, r: Int): DataFrame = {
    val bandStructs = (0 until b).map { j =>
      struct(lit(j).as("band"),
        md5(concat_ws("|", (0 until r).map(i => col(s"mh_${j * r + i}").cast("string")): _*)).as("bh"))
    }
    sig.select(keep.map(col) :+ explode(array(bandStructs: _*)).as("__b"): _*)
      .select(keep.map(col) :+ col("__b.band").as("band") :+ col("__b.bh").as("band_hash"): _*)
  }

  /** (id, sz, band, band_hash) band rows hash-partitioned ONCE on the
    * join key — the single exchange the bucket census, the bucket-cap
    * filter, AND both sides of the candidate self-join all read (guide
    * §2.4: operations keyed the same way share one exchange; previously
    * the census shuffled partial counts and each join side shuffled the
    * band rows again). `sz` rides along so the one census aggregate can
    * also derive the verify stage's broadcast-size gate without a second
    * action. No explicit partition count: AQE coalesces a kilobyte band
    * frame to one task while a 100 TB corpus keeps the session's full
    * shuffle width. */
  private def bandRows(sig: DataFrame, idCol: String, b: Int, r: Int): DataFrame =
    bandFrame(sig, Seq(idCol, "sz"), b, r).repartition(col("band"), col("band_hash"))

  /** Per-bucket member counts `n` of a band frame (plus `ssz`, the
    * members' summed set sizes, when the frame carries `sz`). */
  private def bucketCounts(bands: DataFrame, withSz: Boolean): DataFrame =
    bands.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n"), (if (withSz) Seq(sum(col("sz")).as("ssz")) else Nil): _*)

  /** The band rows whose bucket has at most `cap` members. */
  private def capBuckets(bands: DataFrame, buckets: DataFrame, cap: Int): DataFrame =
    bands.join(buckets.filter(col("n") <= cap).select(col("band"), col("band_hash")),
      Seq("band", "band_hash"))

  /** The uncapped LSH refusal, shared by every band-bucket census. */
  private def lshRefusal(budget: Long)(c: PairCensus): String =
    s"${c.pairs} band-bucket candidate pairs exceed " +
      s"the budget $budget (largest bucket: ${c.hottest} " +
      "members). Low-entropy corpora (boilerplate, templates) make " +
      "the uncapped pair stage quadratic — pass " +
      "maxBucketSize = Some(cap) (e.g. Some(24)) to drop degenerate " +
      "buckets (their mass belongs to the repeated-substring " +
      "operators), or opt in to uncapped-exact explicitly with " +
      "candidatePairBudget <= 0."

  /** The candidate self-join over (cached, co-partitioned) band rows:
    * exchange-free on both sides — the cache's HashPartitioning(band,
    * band_hash) satisfies the join clustering, and because the cache is
    * materialized (by the census action) before this plan is built, the
    * planner sees its real size: a small frame broadcasts outright, a
    * large one sort-merges in place with graceful spill. */
  private def pairJoin(kept: DataFrame, idCol: String): DataFrame =
    kept.select(col("band"), col("band_hash"), col(idCol).as("a_id"))
      .join(kept.select(col("band"), col("band_hash"), col(idCol).as("b_id")),
        Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

  /** [[candidatePairsWithGate]]'s result: the lazy candidate frame, the
    * band cache for the caller to release once the candidates are
    * materialized, and the bucket census. The census sums bound the
    * verify stage (see [[candidatePairsWithGate]]). */
  private[graft] final case class LshCandidates(candidates: DataFrame, bands: DataFrame,
                                                census: PairCensus) {
    /** Σ n·(n−1)/2 over the KEPT buckets: an upper bound on distinct
      * candidate pairs (a pair can share several buckets) — the verify
      * stage's parallelism signal for per-pair-expensive verifiers
      * (editSimilarityPairs' bounded DP). */
    def keptPairs: Long = census.sums(0) / 2
    /** Upper bound on the bytes of the candidate docs' verify sets. */
    def keptBytes: Long = census.sums(1)
    /** Bytes of every doc's verify set. */
    def allBytes: Long = census.sums(2)
  }

  /** The near-dup envelope's fused candidate stage: ONE action (a bucket
    * census over the single-exchange band cache) yields the pair-budget
    * guard integers AND the verify stage's join-strategy gate, so the
    * envelope no longer pays a separate size-gate barrier
    * (jaccardFromSets' stats head — the round-13 action breakdown's
    * "action 2").
    *
    * Gate derivation (a verify set costs 8 bytes per hash + 48 per row):
    * every doc in a candidate pair sits in ≥1 kept bucket of ≥2 members,
    * so Σ over those buckets of (8·Σsz + 48·n) upper-bounds the scoped
    * verify sets' bytes — a conservative gate (may choose shuffles where
    * the exact measure would broadcast; never broadcasts something over
    * budget). The all-docs bound sums band 0's buckets (every doc has
    * exactly one row per band). When it fits the budget the verify skips
    * candidate scoping altogether and joins the candidates straight
    * against every doc's broadcast set ([[jaccardFromSets]]'s unscoped
    * verdict) — read off the same census, so still no extra action. It is
    * also the bound the sampled-curve callers need, where the verify join
    * covers every (sampled) doc rather than LSH candidates.
    *
    * An uncapped call with a positive budget refuses exactly as
    * [[lshCandidatePairs]] does: the same census, the same refusal. */
  private[graft] def candidatePairsWithGate(
      sig: DataFrame, idCol: String, k: Int, b: Int,
      maxBucketSize: Option[Int], candidatePairBudget: Long): LshCandidates = {
    import org.apache.spark.storage.StorageLevel
    val bands = bandRows(sig, idCol, b, k / b).persist(StorageLevel.MEMORY_AND_DISK)
    val bucket = bucketCounts(bands, withSz = true)
    // kept = the buckets whose members reach the pair stage
    val inPair = maxBucketSize
      .map(cap => col("n") <= cap).getOrElse(lit(true)) && col("n") >= 2
    val bytes = col("ssz") * 8L + col("n") * 48L
    val census = PairCensus(bucket, "n",
      when(inPair, col("n") * (col("n") - 1)).otherwise(lit(0L)),
      when(inPair, bytes).otherwise(lit(0L)),
      when(col("band") === 0, bytes).otherwise(lit(0L)))
    if (maxBucketSize.isEmpty)
      census.enforce("lshCandidatePairs", candidatePairBudget,
        () => bands.unpersist())(lshRefusal(candidatePairBudget))
    val kept = maxBucketSize.fold(bands)(capBuckets(bands, bucket, _))
    LshCandidates(pairJoin(kept, idCol), bands, census)
  }

  /** Candidate pairs (a_id < b_id) sharing ≥1 LSH band. The only join in the
    * near-dup path — on uniform (band, band_hash) keys.
    *
    * `maxBucketSize`: skip buckets with more than `cap` members before the
    * self-join. A bucket of B members contributes B²/2 candidate pairs, so
    * on low-entropy corpora (boilerplate, templates, tiny vocabularies —
    * measured on this repo's fixture: background 5-gram Jaccard ≈ 0.45
    * makes chunk-level candidates grow ~quadratically, BENCH.md sf1.0
    * probe) a handful of degenerate buckets dominate the whole job. The
    * production stance is to drop them: members of a giant bucket are
    * wholesale near-identical boilerplate, which the exact-substring /
    * repetition operators (q119, q67) handle — pair enumeration inside
    * such a bucket is quadratic work for no curation signal. The cap is a
    * deterministic function of the bucket census (count ≤ cap), so capped
    * results stay oracle-expressible (HAVING count(*) <= cap).
    *
    * GUARDED BY DEFAULT: with no cap, one cheap [[PairCensus]] over the
    * (band, band_hash) buckets runs at call time and the call REFUSES
    * ([[PairBudgetExceeded]], naming the observed pair count, the largest
    * bucket, and `maxBucketSize` as the fix) when Σ n·(n−1)/2 exceeds
    * `candidatePairBudget`. A 100 TB caller cannot silently summon
    * quadratic work (the sf1.0 probe measured 58.4M band pairs, 20× time
    * at 10× data, on a low-entropy corpus). Uncapped-EXACT stays
    * available as the explicit opt-in `candidatePairBudget <= 0`, which
    * skips the census (the oracle-pinned q20/q111 formulations use it). A
    * capped call skips the census: its pair count is already bounded by
    * buckets · cap². */
  def lshCandidatePairs(bands: DataFrame, idCol: String,
                        maxBucketSize: Option[Int] = None,
                        candidatePairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    val kept = maxBucketSize match {
      case Some(cap) => capBuckets(bands, bucketCounts(bands, withSz = false), cap)
      case None =>
        if (candidatePairBudget > 0)
          PairCensus(bucketCounts(bands, withSz = false), "n")
            .enforce("lshCandidatePairs", candidatePairBudget)(lshRefusal(candidatePairBudget))
        bands
    }
    pairJoin(kept, idCol)
  }

  /** Exact n-gram Jaccard: |A∩B| via shingle match, jaccard =
    * inter/(|A|+|B|-inter). Integer ratio → bit-identical doubles in every
    * engine.
    *
    * With `candidates` the intersection is built candidate-first — pair rows
    * fan out only to each candidate's own shingles, never through a global
    * shingle self-join (a common 5-gram shared by 10^5 docs would otherwise
    * materialize 10^10 pair rows). Without candidates (small inputs only) it
    * falls back to the shingle self-join. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, minJaccard: Double,
                   candidates: Option[DataFrame] = None): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleN)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val pairShingles = candidates match {
      case Some(c) =>
        c.select(col("a_id"), col("b_id"))
          .join(sh.select(col(idCol).as("a_id"), col("sh")), Seq("a_id"))
          .join(sh.select(col(idCol).as("b_id"), col("sh")), Seq("b_id", "sh"))
      case None =>
        sh.select(col(idCol).as("a_id"), col("sh"))
          .join(sh.select(col(idCol).as("b_id"), col("sh")), Seq("sh"))
          .filter(col("a_id") < col("b_id"))
    }
    pairShingles.groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .withColumn("jaccard_e4", graft.functions.TextFunctions.fixedPoint(
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard_e4") >= (minJaccard * 10000).round)
      .select(col("a_id"), col("b_id"), col("jaccard_e4"))
  }

  /** The composed scale path: MinHash → LSH candidates → exact-Jaccard
    * verify. One corpus scan computes signatures AND hashed shingle sets
    * row-locally (signatureFrame, zero shuffle); it is materialized once
    * (MEMORY_AND_DISK — the stage a production run would checkpoint) and
    * reused by the band join and both verify sides. The result is
    * materialized eagerly (localCheckpoint) so both intermediates are
    * unpersisted before returning — repeated calls in a long-lived session
    * do not accumulate cached stages. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, b: Int = 4, shingleN: Int = 5,
                   minJaccard: Double = 0.5,
                   verifyBroadcastBytes: Long = DefaultVerifyBroadcastBytes,
                   maxBucketSize: Option[Int] = None,
                   candidatePairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val enriched = signatureFrame(df, idCol, textCol, k, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out =
      try nearDupPairsFromSignatures(enriched, idCol, k, b, minJaccard,
        verifyBroadcastBytes, maxBucketSize, candidatePairBudget)
      finally enriched.unpersist()
    out
  }

  /** Near-dup pairs from an ALREADY-SIGNED frame (signDocuments /
    * signDocumentsWithFingerprint output, ideally persisted by the caller):
    * LSH banding → candidate join → exact-Jaccard verify, skipping the
    * signing scan entirely. The seam a curation funnel uses to share one
    * signing pass across its dedup stages, and the batch path a warehouse
    * with stored signatures calls directly. Result is eagerly checkpointed
    * (O(candidate pairs)), so the caller may unpersist the signature frame
    * as soon as this returns. */
  def nearDupPairsFromSignatures(sig: DataFrame, idCol: String,
                                 k: Int = 16, b: Int = 4,
                                 minJaccard: Double = 0.5,
                                 verifyBroadcastBytes: Long = DefaultVerifyBroadcastBytes,
                                 maxBucketSize: Option[Int] = None,
                                 candidatePairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE barrier replaces the old census + verify-size-gate pair: the
    // bucket census over the single-exchange band cache guards the pair
    // budget AND picks the verify join strategy (candidatePairsWithGate):
    // unscoped broadcast, scoped broadcast, or scoped shuffle
    val stage = candidatePairsWithGate(sig, idCol, k, b,
      maxBucketSize, candidatePairBudget)
    // when every doc's set fits the broadcast the verify reads the
    // candidates once (no id scoping), so only the scoped path caches them
    val allSetsFit = stage.allBytes <= verifyBroadcastBytes
    val cands =
      if (allSetsFit) stage.candidates
      else stage.candidates.persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = jaccardFromSets(
      sig.select(col(idCol), col("shs"), col("sz")), idCol, minJaccard,
      cands, verifyBroadcastBytes, smallHint = Some(stage.keptBytes <= verifyBroadcastBytes),
      allSetsFit = allSetsFit)
    // pairs are O(candidates) — tiny next to the inputs; checkpointing them
    // lets the heavyweight caches go before the caller even runs an action
    val out = pairs.localCheckpoint(true)
    cands.unpersist()
    stage.bands.unpersist()
    out
  }

  /** ~64 MB: the executor-memory-friendly ceiling for broadcasting the
    * candidate shingle sets in the verify stage. */
  val DefaultVerifyBroadcastBytes: Long = 64L << 20

  /** Candidate pairs per task for the bounded-Levenshtein verify stage:
    * the DP costs ~1–3 ms per pair at kB-scale docs (measured sf0.1), so
    * ~128 pairs ≈ a few hundred ms of real work per task — enough to
    * amortize the task constants, small enough that the census-derived
    * spread reaches full width as soon as the DP has whole seconds of
    * work. Input-derived, never a core-count constant. */
  val EditDpPairsPerTask: Long = 128L

  /** Public signature surface for incremental dedup: (id, sz, shs, mh_*)
    * per doc, row-locally computed — persist this (e.g. in the warehouse)
    * between batches so the corpus is never re-signed. `shs` is sorted
    * ascending (the verify stage's sorted-merge contract); signatures
    * persisted by an older engine version must be re-signed. */
  def signDocuments(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, shingleN: Int = 5): DataFrame =
    signatureFrame(df, idCol, textCol, k, shingleN)

  /** signDocuments plus the exact-dedup canonical fingerprint (`fp`) in the
    * SAME text scan — one pass feeds both dedup stages of a curation
    * funnel instead of re-reading (and re-deriving) the corpus per stage. */
  def signDocumentsWithFingerprint(df: DataFrame, idCol: String, textCol: String,
                                   k: Int = 16, shingleN: Int = 5): DataFrame =
    signatureFrameWith(df, idCol, textCol, k, shingleN,
      Seq("fp" -> fingerprint(col(textCol))))

  /** Incremental near-dup: verify a NEW batch against an already-signed
    * corpus without re-signing it — the production shape for a growing
    * training corpus (batch N+1 arrives; batch 1..N's signatures are on
    * disk). Candidates are new×new plus new×prior band collisions —
    * prior×prior pairs were found when the prior batches landed, so the
    * per-batch cost is O(new batch), not O(corpus).
    *
    * Returns the verified pairs touching ≥1 new doc, a_id < b_id, eagerly
    * checkpointed: the caches this call makes, the batch's signatures
    * included, are released before it returns or refuses. */
  def nearDupPairsIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                              priorSig: DataFrame,
                              k: Int = 16, b: Int = 4, shingleN: Int = 5,
                              minJaccard: Double = 0.5,
                              verifyBroadcastBytes: Long = DefaultVerifyBroadcastBytes,
                              candidatePairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val newSig = signatureFrame(newDocs, idCol, textCol, k, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // defensive re-sort: the verify intersect is a sorted two-pointer merge
      // (signatureFrame sorts shs since round 4), but priorSig may have been
      // PERSISTED by an older build whose shs was first-occurrence-ordered —
      // unsorted input would silently undercount Jaccard and drop real
      // cross-batch dups. array_sort on already-sorted arrays is cheap.
      val priorSorted = priorSig.withColumn("shs", array_sort(col("shs")))
      // the batch band frame is shuffled ONCE on the join key and cached —
      // the new×new census, both new×new pair-join sides, AND the cross
      // join's new side all read that one exchange's output (the
      // candidatePairsWithGate shape). The prior side stays LAZY off the
      // caller-persisted signature cache: for the uncapped-exact opt-in
      // (budget ≤ 0) it is consumed exactly once (the cross join), so a
      // second cache would only add materialization cost.
      val newBands = bandRows(newSig, idCol, b, k / b)
        .persist(StorageLevel.MEMORY_AND_DISK)
      lazy val priorBandsCached = bandRows(priorSorted, idCol, b, k / b)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val guarded = candidatePairBudget > 0
      val priorBands =
        if (guarded) priorBandsCached
        else lshBands(priorSorted, idCol, b, k / b)
      def releaseBands(): Unit = {
        newBands.unpersist()
        if (guarded) priorBandsCached.unpersist()
      }
      // When guarded, ONE action folds the old three barriers (new×new
      // census, cross census, verify size-gate stats): a full-outer join of
      // the two bucket censuses yields both pair-budget guards AND the
      // verify join-strategy gate. Gate UB: a new doc is in a candidate
      // pair iff its bucket has ≥2 new members or ≥1 prior member; a prior
      // doc iff its bucket has ≥1 new member. Unguarded callers keep the
      // old stats-head gate inside jaccardFromSets (same action count).
      val small: Option[Boolean] = if (guarded) {
        val bn = newBands.groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("nn"), sum(col("sz")).as("sszn"))
        val bp = priorBands.groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("np"), sum(col("sz")).as("sszp"))
        val jb = bn.join(bp, Seq("band", "band_hash"), "full_outer")
          .select(coalesce(col("nn"), lit(0L)).as("nn"),
            coalesce(col("np"), lit(0L)).as("np"),
            coalesce(col("sszn"), lit(0L)).as("sszn"),
            coalesce(col("sszp"), lit(0L)).as("sszp"))
        val census = PairCensus(jb, "nn",
          col("nn") * col("np"),
          when(col("nn") >= 2 || col("np") >= 1, col("sszn") * 8L + col("nn") * 48L)
            .otherwise(lit(0L)) +
            when(col("nn") >= 1, col("sszp") * 8L + col("np") * 48L).otherwise(lit(0L)))
        census.enforce("lshCandidatePairs", candidatePairBudget,
          () => releaseBands())(lshRefusal(candidatePairBudget))
        val nCross = census.sums(0)
        if (nCross > candidatePairBudget) {
          releaseBands()
          throw new PairBudgetExceeded("nearDupPairsIncremental", nCross,
            candidatePairBudget, census.hottest,
            s"$nCross new×prior band-bucket candidate " +
              s"pairs exceed the budget $candidatePairBudget — a degenerate " +
              "bucket in the stored corpus is colliding with the whole batch. " +
              "Strip boilerplate (repeated-substring operators) before " +
              "signing, or opt in to uncapped-exact with " +
              "candidatePairBudget <= 0.")
        }
        Some(census.sums(1) <= verifyBroadcastBytes)
      } else None
      val newNew = pairJoin(newBands, idCol)
      // new×prior collisions, normalized to the a_id < b_id convention
      val cross = newBands.select(col("band"), col("band_hash"), col(idCol).as("n_id"))
        .join(priorBands.select(col("band"), col("band_hash"), col(idCol).as("p_id")),
          Seq("band", "band_hash"))
        .select(least(col("n_id"), col("p_id")).as("a_id"),
          greatest(col("n_id"), col("p_id")).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
        .distinct()
      // persisted: the verify stage references the candidates both directly
      // and via its id-scoping — without this the band joins recompute ~2×
      val cands = newNew.unionByName(cross).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sets = priorSorted.select(col(idCol), col("shs"), col("sz"))
        .unionByName(newSig.select(col(idCol), col("shs"), col("sz")))
      val pairs = jaccardFromSets(sets, idCol, minJaccard, cands,
        verifyBroadcastBytes, smallHint = small)
        .localCheckpoint(true)
      cands.unpersist()
      releaseBands()
      pairs
    } finally newSig.unpersist()
  }

  /** Jaccard verify over per-doc hashed shingle sets and candidate pairs:
    * sets are md5-60bit long arrays (intersection cardinality identical to
    * string sets, collision odds ~2^-60 per pair), SORTED ascending and
    * distinct per doc (signatureFrame's contract — the verify intersect is
    * a sorted two-pointer merge). The intermediate is O(|pairs|) rows —
    * never |pairs| × |shingles| join rows.
    *
    * Join strategy, cheapest first:
    *   - `allSetsFit` (a census bounds EVERY doc's set under
    *     `broadcastBudgetBytes`): the candidates join straight against the
    *     broadcast sets — no candidate-id union, distinct or semi-join.
    *   - otherwise the sets are scoped to docs that appear in a candidate
    *     pair and their size is gated (8 bytes per hash + per-row
    *     overhead): under the budget both verify sides broadcast the scoped
    *     sets, above it every join runs as a shuffle hash join on uniform
    *     id keys — a boilerplate-heavy 100 TB corpus degrades to shuffles
    *     instead of a driver OOM. `smallHint` is a census verdict on the
    *     scoped sets; without one the gate measures them (one action). */
  private[graft] def jaccardFromSets(sets0: DataFrame, idCol: String,
                                         minJaccard: Double, candidates: DataFrame,
                                         broadcastBudgetBytes: Long = DefaultVerifyBroadcastBytes,
                                         smallHint: Option[Boolean] = None,
                                         allSetsFit: Boolean = false): DataFrame = {
    // a census bound on EVERY doc's set under the budget makes scoping
    // the sets to the candidates' ids pointless: they broadcast whole
    val sets =
      if (allSetsFit) sets0
      else {
        val candidateIds = candidates.select(col("a_id").as(idCol))
          .union(candidates.select(col("b_id").as(idCol))).distinct()
        sets0.join(candidateIds, Seq(idCol), "left_semi")
      }
    // strategy gate: the envelope callers pass the census-derived verdict
    // (candidatePairsWithGate — no extra barrier); standalone callers pay
    // one cheap agg over the scoped sz column
    val small = allSetsFit || smallHint.getOrElse {
      val stats = sets.agg(
        coalesce(sum(col("sz")), lit(0L)).as("hashes"),
        count(lit(1)).as("docs")).head()
      stats.getLong(0) * 8L + stats.getLong(1) * 48L <= broadcastBudgetBytes
    }
    val aSide = sets.select(col(idCol).as("a_id"), col("shs").as("sh_a"), col("sz").as("sz_a"))
    val bSide = sets.select(col(idCol).as("b_id"), col("shs").as("sh_b"), col("sz").as("sz_b"))
    val joined =
      if (small)
        candidates.select(col("a_id"), col("b_id"))
          .join(broadcast(aSide), Seq("a_id")).join(broadcast(bSide), Seq("b_id"))
      else
        candidates.select(col("a_id"), col("b_id"))
          .join(aSide.hint("shuffle_hash"), Seq("a_id"))
          .join(bSide.hint("shuffle_hash"), Seq("b_id"))
    joined
      // two-pointer merge over the pre-sorted sets — zero allocation per
      // pair (the HashSet formulation boxed ~|set| longs per candidate)
      .withColumn("inter",
        org.apache.spark.sql.graft.MinHashExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard_e4", graft.functions.TextFunctions.fixedPoint(
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard_e4") >= (minJaccard * 10000).round)
      .select(col("a_id"), col("b_id"), col("jaccard_e4"))
  }

  /** Containment/plagiarism pairs via winnowing fingerprints: docs sharing
    * ≥ minShared selected-min fingerprints after dropping "stop
    * fingerprints" that occur in more than maxDocFreq docs (boilerplate
    * n-grams would otherwise pair everything — the standard winnowing
    * deployment step, and the join-size bound at scale: the per-fingerprint
    * fan-out is capped at maxDocFreq²). Fingerprint extraction is
    * row-local and runs once per call: the doc-frequency cut and the pair
    * self-join read one hash-by-fingerprint exchange
    * ([[stopFingerprintCut]]); the pair aggregate is the only other
    * shuffle, on uniform 60-bit keys. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, w: Int = 4, minShared: Long = 10L,
                     maxDocFreq: Long = 30L): DataFrame =
    winnowingPairsFromFingerprints(
      winnowingFingerprintRows(df, idCol, textCol, n, w), idCol,
      minShared, maxDocFreq)

  /** [[winnowingPairs]] from an ALREADY-EXTRACTED fingerprint frame
    * (idCol, fp) — the [[graft.streaming.StreamingWinnow]] serving seam:
    * stop-fingerprint cut, pair aggregate, shared cut; text never touched. */
  def winnowingPairsFromFingerprints(fps: DataFrame, idCol: String,
                                     minShared: Long = 10L,
                                     maxDocFreq: Long = 30L): DataFrame =
    sharedFingerprintPairs(stopFingerprintCut(fps, maxDocFreq), idCol)
      .filter(col("shared") >= minShared)

  /** The fingerprint rows (idCol, fp) of every fingerprint that occurs in
    * at most `maxDocFreq` rows. The rows are hashed by fp once, and both
    * the doc frequency (a count over a window partitioned by fp) and the
    * pair self-join above the cut read that one exchange: the fingerprint
    * frame is shuffled, and its row-local kernel evaluated, once per call.
    * The exchange is explicit so this holds for a one-partition input too,
    * where the window alone would plan none and each join side would
    * re-run the kernel. At scale a hot fingerprint (a boilerplate n-gram
    * in millions of docs) has its whole group buffered by the window
    * before the cut drops it; the buffer spills to disk past
    * `spark.sql.windowExec.buffer.spill.threshold` rows, where an
    * aggregate would count the group without buffering it. */
  private def stopFingerprintCut(fps: DataFrame, maxDocFreq: Long): DataFrame =
    fps.repartition(col("fp")).withColumn("__df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("__df") <= maxDocFreq)
      .drop("__df")

  /** (a_id, b_id, shared): shared fingerprint rows per doc pair, a_id < b_id. */
  private def sharedFingerprintPairs(kept: DataFrame, idCol: String): DataFrame =
    kept.select(col("fp"), col(idCol).as("a_id"))
      .join(kept.select(col("fp"), col(idCol).as("b_id")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))

  /** The per-doc winnowing fingerprint rows (idCol, fp) — the expensive
    * row-local stage of the q38/q161 family, exposed as a seam so a
    * STREAMING ingest can extract each document's fingerprints exactly
    * once and persist them ([[graft.streaming.StreamingWinnow]]): a
    * doc's fingerprints are a pure function of its text, so the store is
    * append-only and any accumulated union is identical to a one-shot
    * extraction. The stop-fingerprint doc-freq filter deliberately does
    * NOT happen here — df is a CORPUS-level property that changes as docs
    * arrive, so it must apply at query time over the accumulated store
    * (a fingerprint common in batch 3 retroactively mutes batch-1 rows). */
  def winnowingFingerprintRows(df: DataFrame, idCol: String, textCol: String,
                               n: Int = 5, w: Int = 4): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(fanoutPartitions(df))
      .select(col(idCol), explode(winnowingFingerprints(col(textCol), n, w)).as("fp"))

  /** Directional containment pairs: winnowing-fingerprint candidates
    * scored by |A∩B| / |A| and |A∩B| / |B| — the asymmetric "is A mostly
    * INSIDE B" signal symmetric Jaccard structurally misses: a 100-word
    * quote embedded in a 10k-word page has Jaccard ≈ 0.01 but
    * containment ≈ 1.0 on the quote side. The quote / syndicated-excerpt
    * / partial-plagiarism detector, and the right cut for "drop the doc
    * that is a subset of another" curation. Winnowing (not MinHash) is
    * the correct candidate stage here — shared selected-min fingerprints
    * survive asymmetric sizes, while MinHash banding is Jaccard-biased
    * and misses subset pairs by construction.
    *
    * Scale shape: q38's exact plan — row-local fingerprints, stop-fp
    * cut capping per-fingerprint fan-out at maxDocFreq², pair aggregate
    * on uniform 60-bit keys; the per-doc fingerprint counts aggregate the
    * SAME cut frame (its one fp exchange is reused, so the kernel still
    * runs once), and the containment division is two integer DIVs on the
    * pair frame. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, w: Int = 4, minShared: Long = 10L,
                       maxDocFreq: Long = 30L, minContainE4: Long = 5000L): DataFrame =
    containmentPairsFromFingerprints(
      winnowingFingerprintRows(df, idCol, textCol, n, w), idCol,
      minShared, maxDocFreq, minContainE4)

  /** [[containmentPairs]] from an ALREADY-EXTRACTED fingerprint frame
    * (idCol, fp) — e.g. read back from [[graft.streaming.StreamingWinnow]]'s
    * store. Same stop-fingerprint cut, pair aggregate, and containment
    * cuts; text is never touched. The cut frame feeds both the pairs and
    * the per-doc counts through its one fp exchange, so nothing is cached
    * and the result stays lazy. */
  def containmentPairsFromFingerprints(fps: DataFrame, idCol: String,
                                       minShared: Long = 10L,
                                       maxDocFreq: Long = 30L,
                                       minContainE4: Long = 5000L): DataFrame = {
    val kept = stopFingerprintCut(fps, maxDocFreq)
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("nf"))
    sharedFingerprintPairs(kept, idCol)
      .filter(col("shared") >= minShared)
      .join(sizes.select(col(idCol).as("a_id"), col("nf").as("nf_a")), Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("nf").as("nf_b")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("shared"),
        expr("shared * 10000L div nf_a").as("cont_a_e4"),
        expr("shared * 10000L div nf_b").as("cont_b_e4"))
      .filter(greatest(col("cont_a_e4"), col("cont_b_e4")) >= minContainE4)
  }

  /** 60-bit SimHash over distinct whitespace tokens: bit j of the signature
    * is set iff the sum over tokens of (±1 by token-hash bit j) is positive.
    * Entirely row-local (codegen'd SimHash60 over the token-hash array) —
    * no explode, no shuffle; docs with zero tokens get signature 0. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol))
      .repartition(fanoutPartitions(df)) // spread row-local work
      .select(col(idCol),
        transform(array_distinct(wsTokens(col(textCol))), t => stableHash60(t)).as("__hs"))
      .select(col(idCol),
        org.apache.spark.sql.graft.MinHashExprs.simhash60(col("__hs")).as("simhash"))

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming (< 15), banded:
    * split the 60-bit signature into 4 chunks of 15 bits; by pigeonhole any
    * pair within hamming 3 shares an identical chunk, so candidates come
    * from 4 chunk-equality joins (uniform keys), never an all-pairs scan. */
  def simhashPairs(sim: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding only guarantees recall for hamming <= 3")
    val chunked = sim.select(col(idCol), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("shiftright(simhash, c * 15) & 32767"))
    val cands = chunked.select(col("c"), col("chunk"), col(idCol).as("a_id"), col("simhash").as("a_sim"))
      .join(chunked.select(col("c"), col("chunk"), col(idCol).as("b_id"), col("simhash").as("b_sim")),
        Seq("c", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sim", "b_sim").distinct()
    cands.withColumn("hamming", expr("bit_count(a_sim ^ b_sim)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Positional character n-gram hashes per doc: (id, pos, gh) with pos
    * 1-based and gh a 64-bit hash of text[pos, pos+n). Row-local until
    * the explode; docs shorter than n contribute nothing (an exact
    * short-doc duplicate is doc-level dedup's job).
    *
    * The hash is a one-pass polynomial ROLLING hash
    * ([[org.apache.spark.sql.graft.RollingGramHashes]]): each codepoint
    * is touched once instead of n times and no per-gram string is ever
    * allocated — the dominant cost of this operator family, cut n-fold.
    * The hash function is a pure engine choice (see the expression's
    * hash-agnosticism contract): gh only partitions grams into
    * identical-substring groups, so the DuckDB oracle groups by its own
    * md5 and the results agree exactly. */
  private def positionalGrams(df: DataFrame, idCol: String, textCol: String,
                              n: Int): DataFrame =
    df.select(col(idCol), col(textCol))
      // spread the ~|text|× explode fan-out BEFORE it happens (the
      // shingleRows discipline): a compact doc table arrives in a handful
      // of parquet splits, which would serialize the rolling-hash explode
      // on that many cores. Keyed by id so the per-doc consumers
      // (positions collect, per-doc counts) are pre-clustered too.
      .repartition(fanoutPartitions(df), col(idCol))
      .select(col(idCol),
        posexplode(org.apache.spark.sql.graft.RollingHashExprs
          .rollingGramHashes(col(textCol), n)).as(Seq("p0", "gh")))
      .select(col(idCol), (col("p0") + 1).cast("int").as("pos"), col("gh"))

  /** Run `use` over the repeated-gram rows (id, pos, gh) and checkpoint
    * its (per-doc-small) result — the shared stage behind the stats and
    * strip surfaces. The gram frame (one rolling hash per char position)
    * is the expensive scan, so it materializes ONCE (persist) behind both
    * the repeated-hash aggregate and the filter-back, and releases before
    * returning (the nearDupPairs discipline); only the caller's aggregate
    * is ever checkpointed — the corpus-sized row set never writes. For
    * the minDocs=2 default, "≥ 2 distinct docs" is the single-phase
    * map-side-combinable min(id) ≠ max(id) — countDistinct's two-phase
    * expand only runs for higher thresholds. The repeated set is tiny
    * next to the gram frame, so AQE broadcasts the semi join — the grams
    * never shuffle for the filter-back. */
  private def withRepeatedGramRows(df: DataFrame, idCol: String, textCol: String,
                                   n: Int, minDocs: Int)
                                  (use: DataFrame => DataFrame): DataFrame = {
    require(n >= 2, "gram length must be >= 2")
    require(minDocs >= 2, "a span repeated in one doc is just the doc")
    import org.apache.spark.storage.StorageLevel
    val grams = positionalGrams(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val byHash = grams.groupBy(col("gh"))
    val repeated = (
      if (minDocs == 2)
        byHash.agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
          .filter(col("mn") =!= col("mx"))
      else
        byHash.agg(countDistinct(col(idCol)).as("ndocs"))
          .filter(col("ndocs") >= minDocs)
      ).select(col("gh"))
    val out = use(grams.join(repeated, Seq("gh"), "left_semi"))
      .localCheckpoint(true)
    grams.unpersist()
    out
  }

  /** Cross-document repeated substring detection (the exact-substring
    * dedup family of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): an n-char span is REPEATED when its hash
    * occurs in ≥ `minDocs` distinct docs — boilerplate, licenses, and
    * templated text that doc- and passage-level dedup both miss because
    * the surrounding document differs. Returns per-doc repeated-gram
    * start positions, sorted: (id, positions array<int>) — the input to
    * [[stripRepeatedSpans]].
    *
    * Scale shape: the gram explode is Σ|text| narrow rows on uniform
    * 64-bit keys; repeated hashes come from one count-distinct-docs
    * aggregate (map-side combinable), survivors semi-join the gram frame
    * back (AQE broadcasts the usually-tiny repeated set), and positions
    * collect per doc — arrays bounded by |doc| grams. No all-pairs stage
    * at any size. */
  def repeatedGramPositions(df: DataFrame, idCol: String, textCol: String,
                            n: Int, minDocs: Int = 2): DataFrame =
    withRepeatedGramRows(df, idCol, textCol, n, minDocs)(
      _.groupBy(col(idCol))
        .agg(sort_array(collect_list(col("pos"))).as("positions")))

  /** Per-doc repeated-span accounting — the report a curation run uses to
    * decide whether to strip or drop: total n-grams, how many start a
    * cross-doc repeated span, and the repeated fraction (e4). Docs
    * shorter than n report zero grams and are excluded (no denominator). */
  def repeatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                        n: Int, minDocs: Int = 2): DataFrame = {
    val totals = df
      .select(col(idCol),
        greatest(length(col(textCol)) - n + 1, lit(0)).cast("long").as("n_grams"))
      .filter(col("n_grams") > 0)
    val counts = withRepeatedGramRows(df, idCol, textCol, n, minDocs)(
      _.groupBy(col(idCol)).agg(count(lit(1)).as("n_repeated")))
    totals.join(counts, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        floor(lit(1e4) * coalesce(col("n_repeated"), lit(0L)) / col("n_grams") + lit(0.5))
          .cast("long").as("rep_frac_e4"))
  }

  /** Strip cross-doc repeated spans from the text (the Lee et al. REMOVE
    * step): every char covered by a repeated n-gram is cut, the remainder
    * concatenates in order. Positions merge into disjoint [s, e) intervals
    * row-locally (one pass over the sorted array), then the kept text is
    * the concatenation of the gaps — all HOF expressions over interval
    * counts (small), never per-char rows. Docs with no repeated span pass
    * through unchanged. */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int, minDocs: Int = 2): DataFrame = {
    val pos = repeatedGramPositions(df, idCol, textCol, n, minDocs)
    // Interval merge WITHOUT a fold: positions are sorted and every span
    // is n long, so the running merged interval's end is always
    // prev_position + n — an index j starts a new interval iff j == 1 or
    // positions[j] > positions[j-1] + n. Everything below is O(|positions|)
    // filter/zip_with over the array (element_at is O(1)); an aggregate()
    // fold that rebuilds the accumulator array per element would be
    // quadratic in interval count and stall boilerplate-dense documents.
    val posArr = col("positions")
    val startIdxs = filter(sequence(lit(1), size(posArr)), j =>
      (j === 1) || (element_at(posArr, j) > element_at(posArr, j - 1) + n))
    val nextIdxs = concat(
      slice(startIdxs, lit(2), size(startIdxs) - 1),
      array(size(posArr) + 1))
    // interval [s, e): s = positions[start], e = last position before the
    // next interval start, + n
    val intervals = zip_with(startIdxs, nextIdxs, (sj, nj) => struct(
      element_at(posArr, sj).as("s"),
      (element_at(posArr, nj - 1) + n).as("e")))
    val withIv = df.join(pos, Seq(idCol), "left")
      .withColumn("__iv",
        when(posArr.isNotNull, intervals)
          .otherwise(array().cast("array<struct<s:int,e:int>>")))
    // kept text = the gaps around the intervals, joined in one pass
    val iv = col("__iv")
    val pieces = concat(
      array(col(textCol).substr(lit(1), element_at(iv, 1).getField("s") - 1)),
      zip_with(slice(iv, lit(1), size(iv) - 1), slice(iv, lit(2), size(iv) - 1),
        (a, b) => col(textCol).substr(a.getField("e"),
          b.getField("s") - a.getField("e"))),
      array(col(textCol).substr(element_at(iv, -1).getField("e"),
        length(col(textCol)) - element_at(iv, -1).getField("e") + 1)))
    withIv
      .withColumn("clean_text",
        when(size(iv) > 0, array_join(pieces, "")).otherwise(col(textCol)))
      .drop("positions", "__iv")
  }

  /** Corpus-level boilerplate census — the top-N most WIDESPREAD n-char
    * spans: for each cross-doc repeated gram group, how many distinct
    * docs carry it, total occurrences, and the span's actual text via a
    * deterministic exemplar (lowest doc id, then lowest position — unique
    * per group, since one (doc, pos) determines one n-gram). The triage
    * view over the q119/q67 exact-substring family: which site-wide
    * header/footer/license block dominates the corpus, BEFORE deciding to
    * strip ([[stripRepeatedSpans]]) — and the explicit owner of the
    * duplicate mass the capped LSH path (q126) intentionally drops.
    *
    * Scale: the gram frame (one rolling hash per char) is the scan cost
    * and crosses ONE exchange: grams repartition by `gh` once, and both
    * cascaded groupBys — (gh, doc) then gh — run exchange-free on top
    * (HashPartitioning(gh) satisfies both clusterings). Map-side combine
    * bought almost nothing here — most grams appear once, so the (gh,
    * doc) partial agg shipped ~the raw frame and the second groupBy then
    * re-shuffled ~|distinct gh| ≈ corpus-sized rows again; pre-clustering
    * by gh halves the bytes through the wire (measured 2.1× → ~1.3× vs
    * the DuckDB single-hash-group oracle at sf1.0). The exemplar rides
    * min/min_by instead of a distinct-expand or a join-back (doc ids are
    * unique within a gh group, so min_by is deterministic). Ranking is
    * TakeOrdered (per-partition heaps, driver merges topN rows) on
    * portable integer keys (n_docs, n_occ, exemplar coords) — the hash
    * itself never orders anything, so the DuckDB oracle's md5 grouping
    * agrees exactly. Span text is fetched AFTER the cut: topN rows
    * broadcast against the corpus, never the group set. */
  def boilerplateCensus(df: DataFrame, idCol: String, textCol: String,
                        n: Int, topN: Int = 100, minDocs: Int = 2): DataFrame = {
    require(n >= 2, "gram length must be >= 2")
    require(minDocs >= 2, "a span repeated in one doc is just the doc")
    val per = positionalGrams(df, idCol, textCol, n)
      .repartition(col("gh"))
      .groupBy(col("gh"), col(idCol))
      .agg(count(lit(1)).as("occ"), min(col("pos")).as("mpos"))
    val top = per.groupBy(col("gh"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"),
        min(col(idCol)).as("ex_doc"),
        min_by(col("mpos"), col(idCol)).as("ex_pos"))
      .filter(col("n_docs") >= minDocs)
      .select(col("ex_doc"), col("ex_pos").cast("long").as("ex_pos"),
        col("n_docs"), col("n_occ"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("ex_doc"), col("ex_pos"))
      .limit(topN)
    broadcast(top)
      .join(df.select(col(idCol).as("ex_doc"), col(textCol).as("__t")), Seq("ex_doc"))
      .select(col("ex_doc"), col("ex_pos"), col("n_docs"), col("n_occ"),
        expr(s"substring(__t, ex_pos, $n)").as("span"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("ex_doc"), col("ex_pos"))
  }

  /** Character-level near-dup pairs: LSH banding candidates re-verified by
    * normalized Levenshtein similarity instead of shingle Jaccard —
    * sim_e4 = (L − d)·10⁴ div L with L = max(len_a, len_b), pure integer
    * over the exact DP distance, so the score is engine-portable. Edit
    * similarity is the right verify when near-dups differ by CHARACTER
    * noise (OCR damage, encoding mojibake, typo-level edits) that shreds
    * 5-gram shingles: two captures 3% of characters apart keep edit-sim
    * 0.97 while their shingle Jaccard can fall below any useful
    * threshold. The complementary verify stage over the same candidate
    * machinery — same bands, different distance.
    *
    * Scale shape: the DP costs O(len_a·len_b) PER PAIR — far heavier than
    * the sorted-merge intersect — so the candidate stage is REQUIRED to be
    * capped ([[lshCandidatePairs]]'s maxBucketSize, default 24: the q126
    * production stance; over-cap mass belongs to q119/q67/q146). A free
    * length-gap pre-filter runs before the DP: d ≥ |len_a − len_b|, so
    * pairs whose length gap alone breaks the threshold never reach it —
    * semantics-free (they'd fail the final filter anyway). Texts join the
    * capped pair frame on uniform ids; nothing corpus-quadratic exists. */
  def editSimilarityPairs(df: DataFrame, idCol: String, textCol: String,
                          k: Int, b: Int, shingleN: Int, minSimE4: Long,
                          maxBucketSize: Int = 24): DataFrame = {
    require(minSimE4 >= 0 && minSimE4 <= 10000, "minSimE4 in [0, 10000]")
    val sig = signatureFrame(df, idCol, textCol, k, shingleN)
    // bands cache + eager candidate checkpoint: the signing scan runs
    // exactly once (into the band cache) instead of once per pair-join
    // side and once under the bucket-cap census, and the O(capped pairs)
    // candidate frame releases the cache before the DP verify runs
    val stage = candidatePairsWithGate(sig, idCol, k, b, Some(maxBucketSize), 0L)
    // The bounded DP is the expensive verifier of the family (~ms per pair
    // at kB-scale docs vs µs for the sorted intersect), and both text
    // joins broadcast into the candidate frame — so the DP stage runs at
    // the CANDIDATE frame's width, which AQE coalesces to 1 task at small
    // scale (measured: the whole sf0.1 DP serialized onto one ~3 s task).
    // Spread by the census's kept-pair upper bound (~EditDpPairsPerTask
    // pairs per task, capped at the session shuffle width — the cluster
    // knob — so a 100 TB run keeps its full width and pays nothing new).
    val cap = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val dpParts = math.max(1L, math.min(cap.toLong,
      (stage.keptPairs + EditDpPairsPerTask - 1) / EditDpPairsPerTask)).toInt
    val cand = (if (dpParts > 1) stage.candidates.repartition(dpParts) else stage.candidates)
      .localCheckpoint(true)
    stage.bands.unpersist()
    val txt = df.select(col(idCol), col(textCol))
    val paired = cand
      .join(txt.select(col(idCol).as("a_id"), col(textCol).as("__ta")), Seq("a_id"))
      .join(txt.select(col(idCol).as("b_id"), col(textCol).as("__tb")), Seq("b_id"))
      .withColumn("__la", length(col("__ta")).cast("long"))
      .withColumn("__lb", length(col("__tb")).cast("long"))
      .withColumn("__l", greatest(col("__la"), col("__lb")))
      // necessary condition at zero DP cost: d >= |la - lb|
      .filter(col("__l") > 0 &&
        (col("__l") - abs(col("__la") - col("__lb"))) * 10000L / col("__l") >= minSimE4)
    // bounded DP: sim ≥ minSim ⟺ d ≤ L − ⌈minSim·L/10⁴⌉ (integer-floor
    // algebra: (L−d)·10⁴ div L ≥ m ⟺ (L−d)·10⁴ ≥ m·L), so the threshold
    // form early-exits at O(L·t) per pair and returns −1 over budget —
    // result-identical to the unbounded DP + filter the oracle runs
    // eager checkpoint of the O(verified pairs) result — the family
    // contract (nearDupPairsFromSignatures), and it keeps a caller's
    // orderBy from executing the DP twice (range-partitioning SAMPLES its
    // child, so an unmaterialized DP ran once for the sampler and once
    // for the exchange — measured as two back-to-back full-cost jobs)
    paired
      .withColumn("__d", expr(
        s"levenshtein(__ta, __tb, CAST(__l - (($minSimE4 * __l + 9999) div 10000) AS INT))"))
      .filter(col("__d") >= 0)
      .withColumn("edit_sim_e4", expr("(__l - __d) * 10000L div __l"))
      .select(col("a_id"), col("b_id"), col("edit_sim_e4"))
      .localCheckpoint(true)
  }

  /** Empirical LSH banding S-curve: for a deterministic hash-sample of the
    * corpus, compute the EXACT shingle Jaccard of every sampled pair and
    * measure which pairs the (k, b) banding emits as candidates, binned by
    * Jaccard — the measured counterpart of the theoretical
    * 1−(1−j^r)^b candidacy curve, and the "choose k and b" tuning input
    * for the near-dup family: the curve's knee shows where banding starts
    * missing true near-dups (false negatives above minJaccard) and how
    * much sub-threshold mass it wastes verify work on (false positives
    * below). Purely empirical — no transcendental anywhere, so every cell
    * is integer-exact cross-engine.
    *
    * Scale shape: the audit is BUDGET-BOUNDED by construction — docs enter
    * iff their 60-bit id hash ≡ 0 (mod `sampleMod`), so the exact side is
    * s²/2 pairs over a sample of s docs, never corpus-quadratic; at 100 TB
    * pick sampleMod to hold s at a few thousand (the sample grows linearly
    * with the corpus at fixed mod — the mod IS the budget knob). Pair
    * enumeration is a BroadcastNestedLoopJoin over the id column ONLY
    * (s-row broadcast); shingle sets join in by equi-join afterwards
    * ([[jaccardFromSets]]'s size-gated strategy), so no wide row ever
    * rides the NLJ. Banding candidacy reuses the production
    * [[lshBands]]→[[lshCandidatePairs]] path on the sampled signatures.
    * One signature scan feeds both sides (persisted). */
  def bandingRecallCurve(df: DataFrame, idCol: String, textCol: String,
                         k: Int, b: Int, shingleN: Int, sampleMod: Int,
                         binWidthE4: Int = 1000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(b >= 1 && k % b == 0, s"k=$k must be a multiple of b=$b")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    require(binWidthE4 >= 1 && 10000 % binWidthE4 == 0,
      "binWidthE4 must divide 10000")
    // 60-bit md5 of the id, the engine-portable deterministic sampler
    // (same integer the shingle hashes use: '0x'||substr(md5(x),1,15))
    val idHash = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val sampled = df.filter(pmod(idHash, lit(sampleMod.toLong)) === 0L)
    val sig = signatureFrame(sampled, idCol, textCol, k, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = sig.select(col(idCol))
    val universe = broadcast(ids.select(col(idCol).as("a_id")))
      .join(ids.select(col(idCol).as("b_id")), col("a_id") < col("b_id"))
    // one census action serves both the candidate stage's budget guard
    // and the exact side's verify gate (the universe covers EVERY sampled
    // doc, so the all-docs bound is the right one, and scoping the sets to
    // it would keep them all)
    val stage = candidatePairsWithGate(sig, idCol, k, b, None, PairCensus.DefaultBudget)
    val allSetsFit = stage.allBytes <= DefaultVerifyBroadcastBytes
    val scored = jaccardFromSets(sig, idCol, minJaccard = 0.0, universe,
      smallHint = Some(allSetsFit), allSetsFit = allSetsFit)
    val caught = stage.candidates.withColumn("__caught", lit(1L))
    val nBins = 10000 / binWidthE4
    val out = scored
      .join(caught, Seq("a_id", "b_id"), "left_outer")
      .select(least(expr(s"jaccard_e4 div $binWidthE4"), lit((nBins - 1).toLong))
        .as("bin"), coalesce(col("__caught"), lit(0L)).as("c"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("n_caught"))
      .select(col("bin"), (col("bin") * binWidthE4).as("lo_e4"),
        col("n_pairs"), col("n_caught"),
        expr("n_caught * 10000L div n_pairs").as("catch_e4"))
      .localCheckpoint(true)
    sig.unpersist()
    stage.bands.unpersist()
    out
  }

  /** MinHash estimator calibration — the "choose k" tuning input the
    * banding tuners presuppose: [[bandingPlan]]/[[bandingPlanBudgeted]]
    * pick (b, r) GIVEN a signature width, but whether k minhashes
    * estimate Jaccard tightly enough on THIS corpus is an empirical
    * question (the estimator's variance is j(1−j)/k only under the
    * uniform-permutation idealization; correlated shingles bend it).
    * For every pair of a deterministic 1-in-`sampleMod` id-hash sample:
    * est = |{i : mh_i(a) = mh_i(b)}| / k vs the EXACT shingle Jaccard,
    * rolled up per exact-Jaccard bin as the mean absolute estimation
    * error (e4, truncating div — engine-exact). A high-j bin whose MAE
    * rivals the bin width says "raise k before trusting the banding".
    *
    * Scale shape: [[bandingRecallCurve]]'s — the exact side is the
    * sample's s²/2 pairs (ids-only broadcast NLJ, sets equi-joined in),
    * the estimate side joins the k-long signature arrays onto the same
    * pair frame; sampleMod is the budget knob at 100 TB. */
  def minhashEstimatorCurve(df: DataFrame, idCol: String, textCol: String,
                            k: Int, shingleN: Int, sampleMod: Int,
                            binWidthE4: Int = 1000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(sampleMod >= 1, "sampleMod must be >= 1")
    require(binWidthE4 >= 1 && 10000 % binWidthE4 == 0,
      "binWidthE4 must divide 10000")
    val idHash = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val sampled = df.filter(pmod(idHash, lit(sampleMod.toLong)) === 0L)
    val sig = signatureFrame(sampled, idCol, textCol, k, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = sig.select(col(idCol))
    val universe = broadcast(ids.select(col(idCol).as("a_id")))
      .join(ids.select(col(idCol).as("b_id")), col("a_id") < col("b_id"))
    val scored = jaccardFromSets(sig, idCol, minJaccard = 0.0, universe)
    val mh = sig.select(col(idCol),
      array((0 until k).map(i => col(s"mh_$i")): _*).as("__mh"))
    val matches = zip_with(col("__mha"), col("__mhb"),
      (a, b) => when(a === b, 1L).otherwise(0L))
    val nBins = 10000 / binWidthE4
    val out = scored
      .join(mh.select(col(idCol).as("a_id"), col("__mh").as("__mha")), Seq("a_id"))
      .join(mh.select(col(idCol).as("b_id"), col("__mh").as("__mhb")), Seq("b_id"))
      .withColumn("__m", aggregate(matches, lit(0L), (acc, x) => acc + x))
      .select(col("jaccard_e4"), expr(s"__m * 10000L div $k").as("est_e4"))
      .select(least(expr(s"jaccard_e4 div $binWidthE4"), lit((nBins - 1).toLong))
        .as("bin"), abs(col("est_e4") - col("jaccard_e4")).as("err"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("err")).as("sum_abs_err"))
      .select(col("bin"), (col("bin") * binWidthE4).as("lo_e4"),
        col("n_pairs"), expr("sum_abs_err div n_pairs").as("mae_e4"))
      .localCheckpoint(true)
    sig.unpersist()
    out
  }

  /** Closed-form LSH banding auto-tune — the theoretical complement of
    * [[bandingRecallCurve]]: for each target Jaccard threshold, choose the
    * (bands, rows_per_band) with bands·rows ≤ `hashBudget` whose candidacy
    * curve p(j) = 1−(1−j^r)^b best approximates the ideal step at the
    * threshold (minimum summed |p−step| over an e4 Jaccard grid). This is
    * the "pick b and r BEFORE signing 100 TB" decision: the empirical
    * curve (q154) validates a chosen banding after the fact; this picks it
    * up front from the budget and the threshold alone — at k=16 and
    * τ=0.5 it lands within one knee of the production 4×4 (5 bands × 3
    * rows), and τ=0.8 pushes to 2×8 exactly as Leskovec et al.'s S-curve
    * analysis prescribes.
    *
    * Everything is e4 fixed-point with truncating integer division —
    * j^r and (1−j^r)^b unroll as multiply-divide chains (the q147
    * merge-prefix discipline applied to exponentiation), so every cell is
    * engine-exact; the oracle replays the identical chains. The frame is
    * parameter-scale (|τ| · O(budget·ln budget) rows; the grid folds
    * INSIDE one row-local aggregate expression, no explode, no shuffle
    * until the |τ|-partition argmin window) — corpus-independent, so it
    * costs the same at 100 TB as at 100 rows. */
  def bandingPlan(spark: org.apache.spark.sql.SparkSession, hashBudget: Int,
                  tausE4: Seq[Long], gridStepE4: Int = 250): DataFrame = {
    require(tausE4.nonEmpty, "need at least one target threshold")
    import spark.implicits._
    val base = tausE4.flatMap(t => bandingCombos(hashBudget)
        .map { case (bb, rr) => (t, bb, rr) })
      .toDF("tau_e4", "b", "r")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tau_e4"))
      .orderBy(col("total_err"), col("b"), col("r"))
    base.withColumn("total_err", stepErrExpr(gridStepE4))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("tau_e4"), col("b").as("bands"),
        col("r").as("rows_per_band"), col("total_err"))
  }

  /** The (bands, rows_per_band) candidate grid under a hash budget. */
  private def bandingCombos(hashBudget: Int): Seq[(Long, Long)] = {
    require(hashBudget >= 1, "hashBudget must be >= 1")
    for {
      b <- 1 to hashBudget; r <- 1 to hashBudget if b * r <= hashBudget
    } yield (b.toLong, r.toLong)
  }

  /** Integer step-approximation error of the candidacy curve
    * 1−(1−j^r)^b vs the ideal step at tau_e4, summed over the e4 grid —
    * the objective [[bandingPlan]] and [[bandingPlanBudgeted]] share
    * (expects columns tau_e4, b, r). */
  private def stepErrExpr(gridStepE4: Int): Column = {
    require(gridStepE4 >= 1 && 10000 % gridStepE4 == 0,
      "gridStepE4 must divide 10000")
    val nGrid = 10000 / gridStepE4 - 1 // j = step .. 10000-step
    expr(
      s"""aggregate(sequence(1L, ${nGrid}L), 0L, (acc, i) ->
         acc + abs(
           (10000L - aggregate(sequence(1L, b), 10000L, (qa, xb) ->
             qa * (10000L - aggregate(sequence(1L, r), 10000L, (ja, xr) ->
               ja * (i * ${gridStepE4}L) div 10000L)) div 10000L))
           - if(i * ${gridStepE4}L >= tau_e4, 10000L, 0L)))""")
  }

  /** Projected LSH candidate-pair mass per banding on THIS corpus: for
    * every (b, r) with b·r ≤ `hashBudget`, the candidate pairs the
    * banding's bucket census would count (Σ n·(n−1)/2 over (band,
    * band_hash) buckets — exactly the quantity [[lshCandidatePairs]]'s
    * budget guard measures), estimated from a deterministic 1-in-
    * `sampleMod` id-hash sample and scaled by sampleMod²: a pair
    * survives the sample iff BOTH endpoints do, independently at
    * 1/mod each. Band hashes are bit-identical to [[lshBands]]' (same
    * md5-of-minhash-concat), so the projection measures the production
    * candidate stage, not a proxy.
    *
    * Scale shape: one sampled signing scan (row-local), one static
    * Σ_b-per-combo struct explode (≈220 rows/doc at budget 16), one
    * groupBy on uniform (b, r, band, bh) keys, one combo-sized rollup.
    * At 100 TB the mod is the budget knob — the census costs
    * O(corpus/mod), never a pair stage. */
  def bandingCensus(df: DataFrame, idCol: String, textCol: String,
                    hashBudget: Int, shingleN: Int = 5,
                    sampleMod: Int = 4): DataFrame = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    val sampled = df.filter(pmod(censusIdHash(idCol), lit(sampleMod.toLong)) === 0L)
    censusFromSig(signatureFrame(sampled, idCol, textCol, hashBudget, shingleN),
      hashBudget, sampleMod)
  }

  /** [[bandingCensus]] over an ALREADY-SIGNED frame (signDocuments output
    * at k = hashBudget, ideally persisted by the caller): the 1-in-
    * `sampleMod` id-hash sample becomes a row filter on the signed frame —
    * same ids, same signatures, same band hashes, bit-identical counts —
    * so a pipeline that signs the full corpus for its pair stage anyway
    * (q182's shape) derives the census from that one signing scan instead
    * of paying a second. */
  def bandingCensusFromSignatures(sig: DataFrame, idCol: String,
                                  hashBudget: Int,
                                  sampleMod: Int = 4): DataFrame = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    censusFromSig(
      sig.filter(pmod(censusIdHash(idCol), lit(sampleMod.toLong)) === 0L),
      hashBudget, sampleMod)
  }

  private def censusIdHash(idCol: String): Column =
    conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long")

  private def censusFromSig(sig: DataFrame, hashBudget: Int,
                            sampleMod: Int): DataFrame = {
    val bandStructs: Seq[Column] = for {
      (b, r) <- bandingCombos(hashBudget); j <- 0L until b
    } yield struct(lit(b).as("b"), lit(r).as("r"), lit(j).as("band"),
      md5(concat_ws("|", (0L until r).map(i =>
        col(s"mh_${j * r + i}").cast("string")): _*)).as("bh"))
    sig.select(explode(array(bandStructs: _*)).as("__x"))
      .select(col("__x.b").as("b"), col("__x.r").as("r"),
        col("__x.band").as("band"), col("__x.bh").as("bh"))
      .groupBy(col("b"), col("r"), col("band"), col("bh"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("b"), col("r"))
      .agg((sum(expr("n * (n - 1) div 2")) * lit(sampleMod.toLong)
        * lit(sampleMod.toLong)).as("projected_pairs"))
  }

  /** Census-aware LSH banding auto-tune — [[bandingPlan]] made
    * guard-compatible: per target threshold, the (bands, rows_per_band)
    * under the hash budget that minimizes the step-approximation error
    * SUBJECT TO the banding's projected candidate-pair mass on THIS
    * corpus ([[bandingCensus]]) fitting `pairBudget` — the same budget
    * class [[lshCandidatePairs]]' guard enforces at run time, so the
    * tuner can no longer emit a plan its own production stage refuses
    * (round 10: the pure step-error τ=0.5 pick projected 69.5M pairs at
    * sf1.0 and the guard threw). A τ with NO feasible banding emits no
    * row — "this corpus can't be LSH'd under this budget" is an
    * actionable answer (strip boilerplate first), not a crash later.
    *
    * Cost = one [[bandingCensus]] (sampled corpus scan) + the
    * parameter-scale arithmetic of [[bandingPlan]]; both engines replay
    * the identical integer chains, so the pick is oracle-exact. */
  def bandingPlanBudgeted(df: DataFrame, idCol: String, textCol: String,
                          hashBudget: Int, tausE4: Seq[Long],
                          shingleN: Int = 5, sampleMod: Int = 4,
                          pairBudget: Long = PairCensus.DefaultBudget,
                          gridStepE4: Int = 250): DataFrame =
    planFromCensus(df.sparkSession,
      bandingCensus(df, idCol, textCol, hashBudget, shingleN, sampleMod),
      hashBudget, tausE4, pairBudget, gridStepE4)

  /** [[bandingPlanBudgeted]] over an ALREADY-SIGNED frame (k = hashBudget)
    * — census via [[bandingCensusFromSignatures]], pick bit-identical to
    * the text-signing path. The tune-then-run composition's entry: sign
    * once, tune from the signed frame, run the picked banding on it. */
  def bandingPlanBudgetedFromSignatures(sig: DataFrame, idCol: String,
                                        hashBudget: Int, tausE4: Seq[Long],
                                        sampleMod: Int = 4,
                                        pairBudget: Long = PairCensus.DefaultBudget,
                                        gridStepE4: Int = 250): DataFrame =
    planFromCensus(sig.sparkSession,
      bandingCensusFromSignatures(sig, idCol, hashBudget, sampleMod),
      hashBudget, tausE4, pairBudget, gridStepE4)

  private def planFromCensus(spark: SparkSession, census: DataFrame,
                             hashBudget: Int, tausE4: Seq[Long],
                             pairBudget: Long, gridStepE4: Int): DataFrame = {
    require(tausE4.nonEmpty, "need at least one target threshold")
    require(pairBudget > 0, "pairBudget must be > 0 (the point is the cap)")
    import spark.implicits._
    val base = tausE4.flatMap(t => bandingCombos(hashBudget)
        .map { case (bb, rr) => (t, bb, rr) })
      .toDF("tau_e4", "b", "r")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tau_e4"))
      .orderBy(col("total_err"), col("b"), col("r"))
    base.withColumn("total_err", stepErrExpr(gridStepE4))
      .join(broadcast(census), Seq("b", "r"))
      .filter(col("projected_pairs") <= pairBudget)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("tau_e4"), col("b").as("bands"),
        col("r").as("rows_per_band"), col("total_err"),
        col("projected_pairs"))
  }
}
