package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.ext.CorpusCuration
import graft.operators.{Chunker, Clusters, Decontaminate, DecontamStore, Dedup, Search}

/** Corpus-assembly query surface — the operators a training-data pipeline
  * runs AFTER pair-finding: near-dup clustering + canonical selection,
  * benchmark decontamination, Gopher-style shape filtering, BM25 retrieval,
  * stratified sampling, and PII redaction. Every query is oracle-checked
  * (the DuckDB SQL mirrors each expression tree exactly; all arithmetic is
  * integer-derived, see TextFunctions).
  */
object CorpusQueries {

  // near-dup parameters shared with q20 (DedupQueries) and its oracle CTEs
  private val K = 16; private val B = 4; private val N = 5

  /** Regex/HOF-heavy per-doc stages spread via the shared helper. */
  private def docsWide(spark: SparkSession, dir: String): DataFrame =
    TextQueries.docsWide(spark, dir)

  /** q41: near-dup pairs → connected components → canonical doc per
    * cluster. The step that turns q20's PAIRS into droppable rows. */
  def q41DedupClusters(spark: SparkSession, dir: String): DataFrame =
    Clusters.dedupClusters(
      Dedup.nearDupPairs(Tables(spark, dir, "documents"), "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
      .orderBy(col("cluster"), col("doc_id"))

  /** q138: dedup-aware sampling weights — SOFT dedup: every doc is kept,
    * weighted 1/cluster_size so each unique content contributes total
    * mass 1 to training regardless of how often it was crawled (the
    * duplicate-count downweighting a data-constrained run uses instead
    * of q41's hard canonical-only cut). Near-dup clusters come from q41's
    * machinery; docs in no cluster are their own singleton (weight 1).
    * Scale shape: q41's pair+CC cost plus one cluster-scale size
    * aggregate and a uniform-id left join of cluster labels onto the
    * corpus id scan — NOT broadcast-hinted: dup-cluster membership can
    * be a large corpus fraction at crawl scale, so the label side is
    * only broadcast when AQE measures it small. */
  def q138DedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val clusters = Clusters.dedupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
    val sized = clusters
      .join(clusters.groupBy(col("cluster")).agg(count(lit(1)).as("n")),
        Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("n"))
    docs.select(col("doc_id"))
      .join(sized, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        coalesce(col("n"), lit(1L)).as("n_dups"))
      .withColumn("weight_e4", expr("10000 div n_dups"))
      .orderBy(col("doc_id"))
  }

  /** q150: best-of-cluster canonical selection — for every near-dup
    * cluster, keep the member with the HIGHEST quality score (q17's
    * composite; ties to the lowest doc_id) instead of q41's arbitrary
    * min-id canonical. When a page was crawled five times, the copies
    * differ in truncation, boilerplate, and encoding damage — dedup
    * should keep the cleanest capture, not the numerically smallest id;
    * this is the selection policy step between q41 (who's duplicated)
    * and q138 (how to weight them). Output is one decision row per
    * multi-member cluster: the cluster label, the kept doc, the cluster
    * size, and the kept doc's quality.
    *
    * Scale shape: q41's pair+CC cost, plus the cluster-member frame
    * (duplicate-mass-sized, not corpus-sized) joining the corpus scan on
    * the uniform doc_id key for text — NOT broadcast-hinted, dup
    * membership can be a large corpus fraction at crawl scale (AQE
    * broadcasts when measured small); the quality score is row-local on
    * the joined rows only. Both the argmax and the size ride ONE window
    * partitioned by cluster — cluster-bounded state, clusters are small
    * by construction. */
  def q150BestOfCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val clusters = Clusters.dedupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
    val scored = clusters
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster"),
        fixedPoint(qualityScore(col("text")), 4).as("quality_e4"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    scored
      .withColumn("r", row_number().over(
        w.orderBy(col("quality_e4").desc, col("doc_id"))))
      .withColumn("n_dups", count(lit(1)).over(w))
      .filter(col("r") === 1)
      .select(col("cluster"), col("doc_id").as("keep_id"),
        col("n_dups"), col("quality_e4"))
      .orderBy(col("cluster"))
  }

  /** q180: frequency-capped dedup — the policy point BETWEEN q41/q150
    * (keep one per cluster) and q138 (keep all, down-weight): every
    * near-dup cluster keeps its top-k=3 members by quality (q150's
    * ranking, ties to the lowest doc_id), the rest drop. Practical
    * corpora cap duplicates instead of collapsing them — a few copies of
    * genuinely popular text carry signal (the "dedup hurts at the
    * extreme" result), while unbounded copies are crawl artifacts. One
    * decision row per clustered doc: (cluster, doc_id, quality_e4, rank,
    * n_dups, kept).
    *
    * Scale shape: q41's pair+CC envelope plus one cluster-partitioned
    * rank window (cluster-bounded state, uniform md5-derived labels) —
    * the q150 plan with the filter widened to a flag. */
  def q180CapKDedup(spark: SparkSession, dir: String): DataFrame =
    capKDedupOver(Tables(spark, dir, "documents"))

  private def capKDedupOver(docs: DataFrame): DataFrame = {
    val clusters = Clusters.dedupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
    val scored = clusters
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster"),
        fixedPoint(qualityScore(col("text")), 4).as("quality_e4"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    scored
      .withColumn("rank", row_number().over(
        w.orderBy(col("quality_e4").desc, col("doc_id"))).cast("long"))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("kept", col("rank") <= 3)
      .select(col("cluster"), col("doc_id"), col("quality_e4"),
        col("rank"), col("n_dups"), col("kept"))
      .orderBy(col("cluster"), col("rank"))
  }

  /** The q164 deterministic mod-2 id-hash sample — the CC family's
    * sf1.0-feasible audit restriction: the pair graph over a vertex-
    * induced subgraph is cluster-closed, so CC (and everything built on
    * it) is well-defined on both engine and oracle sides. */
  private def sampledHalf(docs: DataFrame): DataFrame = {
    val idHash = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    docs.filter(pmod(idHash, lit(2L)) === 0L)
  }

  /** q184: q180's frequency-capped dedup over the mod-2 id-hash sample —
    * the committed sf1.0 hash evidence for the cap-k CC composite (the
    * full-corpus recursive-CTE oracle is DuckDB-infeasible at sf1.0; the
    * q164 sampling trick extends through the rank chain because the
    * sampled pair graph is cluster-closed, so ranks within each sampled
    * cluster are self-contained). Same code path as q180, restricted
    * input — at 100 TB the mod is the audit's budget knob. */
  def q184SampledCapK(spark: SparkSession, dir: String): DataFrame =
    capKDedupOver(sampledHalf(Tables(spark, dir, "documents")))

  /** q160: incremental clustering ≡ full recompute — the even-doc half is
    * the STORED state (its pairs clustered once, labels kept; signatures
    * kept), the odd half is the arriving batch: q99's incremental pair
    * stage finds every pair touching a new doc, and
    * [[Clusters.dedupClustersIncremental]] folds those pairs into the
    * stored labels via star edges. The output is pinned to q41's ORACLE —
    * the full-corpus CC — proving the per-batch path (O(batch + affected
    * components), history pair sets never re-read) loses NOTHING vs
    * re-clustering the world. The label-store counterpart of q99's
    * pair-level equivalence. */
  def q160IncrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val prior = Dedup.signDocuments(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val priorLabels = Clusters.dedupClusters(
        Dedup.nearDupPairsFromSignatures(prior, "doc_id", minJaccard = 0.5,
          b = B, candidatePairBudget = 0L))
      val newPairs = Dedup.nearDupPairsIncremental(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", prior,
        k = K, b = B, shingleN = N, minJaccard = 0.5,
        candidatePairBudget = 0L)
      Clusters.dedupClustersIncremental(priorLabels, newPairs)
        .orderBy(col("cluster"), col("doc_id"))
    } finally prior.unpersist()
  }

  /** q164: q41's clusters over a 1-in-2 deterministic id-hash sample —
    * the committed sf1.0 hash-pass for the connected-components family.
    * The full-corpus recursive-CTE oracle behind q41/q138/q140/q150/q159/
    * q160 is DuckDB-infeasible at sf1.0 (killed at 3400 s in the r8
    * probe), so their large-scale correctness rested on tri-scale hashes
    * + scale-independent specs; this query closes that gap with the q154
    * sampleMod trick: BOTH engine and oracle restrict the corpus to docs
    * whose 60-bit md5 id-hash ≡ 0 (mod 2) BEFORE pair-finding, so the
    * sampled pair graph is cluster-closed by construction (CC over a
    * vertex-induced subgraph is well-defined on both sides) and the
    * oracle's recursion runs over ~1/4 of the edges. Same pair chain,
    * same CC, same canonical rule as q41 — at 100 TB the mod is the
    * audit's budget knob. */
  def q164SampledClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val idHash = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    Clusters.dedupClusters(
      Dedup.nearDupPairs(docs.filter(pmod(idHash, lit(2L)) === 0L),
        "doc_id", "text", k = K, b = B, shingleN = N, minJaccard = 0.5,
        candidatePairBudget = 0L))
      .orderBy(col("cluster"), col("doc_id"))
  }

  /** q159: duplication × quality contingency — per quality decile (q17's
    * composite, floored to 10 buckets): how many docs, how many sit in a
    * near-dup cluster, and the dup rate. The "do low-quality docs
    * duplicate more?" audit that decides whether dedup and quality
    * filtering are REDUNDANT passes (boilerplate is both low-quality and
    * duplicated → one pass subsumes the other) or INDEPENDENT cuts (spam
    * farms copy high-scoring text verbatim → run both): measured before
    * spending two full corpus passes at 100 TB.
    *
    * Scale shape: q41's pair+CC cost for the member frame (duplicate-
    * mass-sized); the corpus scan computes the decile row-locally and
    * left-joins the member flag on the uniform doc_id key (member side
    * NOT broadcast-hinted — dup membership can be a large corpus
    * fraction; AQE decides); the contingency is a 10-row aggregate.
    * Rate is one integer DIV. */
  def q159DupQualityContingency(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val members = Clusters.dedupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
      .select(col("doc_id")).withColumn("__dup", lit(1L))
    docs
      .select(col("doc_id"), fixedPoint(qualityScore(col("text")), 4).as("__q"))
      .select(col("doc_id"), least(expr("__q div 1000"), lit(9L)).as("decile"))
      .join(members, Seq("doc_id"), "left_outer")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dups"))
      .select(col("decile"), col("n_docs"), col("n_dups"),
        expr("n_dups * 10000L div n_docs").as("dup_rate_e4"))
      .orderBy(col("decile"))
  }

  // q106's split weights, shared by the leakage audit (q139) and the
  // cluster-aware assignment (q140) so the three queries describe ONE
  // split policy measured, broken, and fixed
  private val TrainValTest = Seq("train" -> 9000, "val" -> 500, "test" -> 500)

  /** q139: split-induced eval-leakage audit — near-dup pairs (q20's
    * MinHash→LSH→Jaccard pipeline) whose two sides land in DIFFERENT
    * q106 splits. A per-doc hash split distributes the members of a
    * near-dup cluster independently, so ≈ 2p(1−p) of every cluster's
    * pairs cross the train/eval boundary by construction — each crossing
    * pair is a test answer sitting near-verbatim in train, contamination
    * that external-benchmark decontamination (q42/q56/q107) never sees
    * because the corpus leaked into ITSELF. This query is the
    * measurement; q140 is the fix and drives it to zero.
    *
    * Scale shape: q20's pair cost plus two joins of the narrow
    * (doc_id, split) projection against the PAIR frame (pairs ride the
    * joins, never the corpus); the assignment itself is a row-local
    * projection with no shuffle of its own. */
  def q139SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
      k = K, b = B, shingleN = N, minJaccard = 0.5)
    val splits = CorpusCuration.assignSplits(
      docs.select(col("doc_id")), "doc_id", TrainValTest)
    pairs
      .join(splits.select(col("doc_id").as("a_id"), col("split").as("a_split")),
        Seq("a_id"))
      .join(splits.select(col("doc_id").as("b_id"), col("split").as("b_split")),
        Seq("b_id"))
      .filter(col("a_split") =!= col("b_split"))
      .select(col("a_id"), col("b_id"), col("a_split"), col("b_split"),
        col("jaccard_e4"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q140: cluster-aware split assignment — the q139 fix: the split hash
    * is drawn from the near-dup CLUSTER label (q41's min-doc-id
    * convention; unpaired docs are their own singleton label), so every
    * member of a cluster lands in the SAME split and the cross-split
    * near-dup leakage q139 measures is zero BY CONSTRUCTION — every
    * verified pair is an edge inside one connected component
    * (CorpusCurationSpec pins the invariant). Weights are q106's; split
    * shares stay ≈ the weights because cluster labels hash like ids and
    * clusters are small relative to the corpus.
    *
    * Scale shape: q41's pair+CC cost plus a uniform-id left join of the
    * (size ≥ 2) cluster labels onto the corpus id scan — the label side
    * deliberately NOT broadcast-hinted (dup membership can be a large
    * corpus fraction at crawl scale; AQE broadcasts when measured
    * small) — then the assignment is a row-local projection. */
  def q140ClusterSplits(spark: SparkSession, dir: String): DataFrame =
    clusterSplitsOver(Tables(spark, dir, "documents"))

  private def clusterSplitsOver(docs: DataFrame): DataFrame = {
    val clusters = Clusters.dedupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
    val labeled = docs.select(col("doc_id"), col("source"))
      .join(clusters.select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    CorpusCuration.assignSplits(labeled, "cluster", TrainValTest)
      .select(col("doc_id"), col("source"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q194: q140's cluster-aware split assignment over the mod-2 id-hash
    * sample — the committed sf1.0 hash evidence for the CC + splits
    * composite (q140's full-corpus recursive-CTE oracle ENOSPCs at
    * sf1.0). The q164 trick extends through the split hash unchanged:
    * the sampled pair graph is cluster-closed, so every sampled doc's
    * cluster label — and therefore its split bucket — is self-contained
    * on the restricted frame. Same code path, restricted input; at
    * 100 TB the mod is the audit's budget knob. */
  def q194SampledClusterSplits(spark: SparkSession, dir: String): DataFrame =
    clusterSplitsOver(sampledHalf(Tables(spark, dir, "documents")))

  /** q42: benchmark decontamination — corpus docs sharing any word 4-gram
    * with the eval slice (doc_id ≡ 0 mod 97), with the leaked-gram count. */
  def q42Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir)
    Decontaminate.contaminated(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 4)
      .orderBy(col("doc_id"))
  }

  /** q188: span-level contamination localization + trim — q42's flagged
    * docs with the merged leaked-token intervals, the trim-policy stats
    * (covered vs kept tokens), and the md5 of the trimmed text (leaked
    * spans cut, token gaps re-joined). The "trim, don't drop" op: doc-
    * level decontamination loses every token of a flagged doc; span
    * localization shows most flagged docs leak a handful of tokens.
    * One corpus scan, row-local positional-gram explode, broadcast eval
    * gram set, leak-bounded state — [[Decontaminate.contaminatedSpans]]. */
  def q188DecontamTrim(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir)
    Decontaminate.contaminatedSpans(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 4)
      .orderBy(col("doc_id"))
  }

  /** q189: drop-vs-trim policy audit — q188's per-doc span stats rolled
    * up by leak severity (covered-token fraction): how many docs and
    * tokens each policy costs. `tokens_lost_drop` is what doc-level
    * decontamination (q42 + drop) pays; `tokens_cut_trim` is what span
    * trimming pays; `tokens_saved_trim` is the corpus the trim policy
    * keeps that the drop policy burns. Severity-cardinality output. */
  def q189TrimPolicyAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir)
    val spans = Decontaminate.contaminatedSpans(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 4)
    spans
      .withColumn("covered_frac_e4",
        TextFunctions.fixedPoint(col("covered_tokens") / col("n_tokens"), 4))
      .withColumn("severity",
        when(col("covered_frac_e4") >= 5000, "heavy")
          .when(col("covered_frac_e4") >= 1000, "medium")
          .otherwise("light"))
      .groupBy(col("severity"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_lost_drop"),
        sum(col("covered_tokens")).as("tokens_cut_trim"),
        sum(col("kept_tokens")).as("tokens_saved_trim"))
      .orderBy(col("severity"))
  }

  /** q191: the TRIM path served from the persisted benchmark gram store —
    * q188's span localization with the benchmark registered once (two
    * halves, the q169 idempotent-registration lifecycle) and the corpus
    * arriving as two batches whose union must equal the one-shot answer
    * (a doc's spans are a pure function of its text and the frozen gram
    * set). Pinned by q188's OWN oracle SQL — the strongest store-parity
    * pin (the q128/q169 pattern). Benchmark text is read once ever;
    * each batch pays one scan of itself. */
  def q191TrimStore(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q191BuildServe(spark, dir))

  /** q169: q42's decontamination served from the PERSISTED benchmark
    * gram store, end to end through the streaming lifecycle: the eval
    * split is registered as two separate benchmarks (each read once,
    * appended — registration never re-reads the other), then the corpus
    * arrives as two batches through [[DecontamStore.checkBatch]] and the
    * accumulated verdict table is the answer. Row-identical to the
    * one-shot q42 (same oracle SQL): verdicts are a pure per-doc function
    * of the frozen gram set, so per-batch verdicts PARTITION the one-shot
    * result — the q120/q128/q166 store-parity pattern closing the
    * decontam family's lifecycle. At 100 TB the benchmark text is read
    * once ever; each arriving corpus batch costs one row-local explode +
    * a broadcast join. */
  def q169DecontamStore(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q169BuildServe(spark, dir))

  /** q196: the benchmark RETIREMENT lifecycle pinned by oracle — both
    * eval halves registered, a full corpus pass accumulates verdicts,
    * then the even benchmark is retired ([[DecontamStore.retireBenchmark]]:
    * its gram rows anti-filtered away, and the verdict invalidation is
    * SURGICAL — only detail rows of retired-ONLY grams die, surviving
    * verdicts stay valid with no corpus re-feed) and the corpus re-fed.
    * Under the r13 per-gram verdict detail the re-feed must append
    * NOTHING (every surviving (doc, gram) key is already stored — the
    * idempotent-append contract), so this query now pins BOTH halves of
    * the lifecycle: the surviving verdict table equals a one-shot
    * q42-style check against the ODD eval half ALONE — a leftover gram
    * row, an over-invalidated verdict, or a double-appended re-feed row
    * all hash-fail. The lifecycle step [[DecontamStore.attribution]]
    * (q170) exists to trigger — "this benchmark is burned, stop flagging
    * for it" — oracle-pinned end to end. At 100 TB retirement rewrites
    * the MB-scale gram table and the leak-scale verdict detail; the
    * corpus is never re-read. */
  def q196DecontamRetire(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir).select(col("doc_id"), col("text"))
    val whDir = java.nio.file.Files.createTempDirectory("graft_q196_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    DecontamStore.registerBenchmark(wh, "guard", "dc", "bench_even",
      evalDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 4)
    DecontamStore.registerBenchmark(wh, "guard", "dc", "bench_odd",
      evalDocs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", n = 4)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    DecontamStore.checkBatch(wh, "guard", "dc", corpus, "doc_id", "text", n = 4)
    DecontamStore.retireBenchmark(wh, "guard", "dc", "bench_even")
    DecontamStore.checkBatch(wh, "guard", "dc", corpus, "doc_id", "text", n = 4)
    QueryUtil.withTempWarehouse(whDir) {
      DecontamStore.verdicts(wh, "guard", "dc").orderBy(col("doc_id"))
    }
  }

  /** q170: leakage attribution BY EVAL DOC from the same store — for each
    * benchmark item, how many corpus docs share ≥ 1 of its 4-grams and
    * the total shared-gram hit count: the "which benchmark is burned"
    * audit (a benchmark whose items each leak into thousands of corpus
    * docs is retired, not decontaminated around). One corpus scan, store
    * broadcast with e_id attribution kept; rollup key is benchmark-scale. */
  def q170DecontamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir).select(col("doc_id"), col("text"))
    val whDir = java.nio.file.Files.createTempDirectory("graft_q170_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    DecontamStore.registerBenchmark(wh, "guard", "dc", "bench",
      docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 4)
    QueryUtil.withTempWarehouse(whDir) {
      DecontamStore.attribution(wh, "guard", "dc",
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text", n = 4)
        .orderBy(col("e_id"))
    }
  }

  /** q177: q162's aggressiveness curve served from the MULTI-N gram
    * store — the eval split registers once per n ∈ {3, 4, 6} (three
    * benchmark-text scans total, ever), and each curve point is the
    * store-served check over the cached corpus projection. Same oracle
    * SQL as q162: the store is a serving path, not a different metric —
    * at 100 TB re-tuning n never re-reads benchmark text (the q137
    * profile-store pattern applied to the decontam family). */
  def q177DecontamCurveStore(spark: SparkSession, dir: String): DataFrame =
    QueryUtil.buildThenServe(q177BuildServe(spark, dir))

  /** The store-served aggressiveness curve in ONE corpus scan (the per-n
    * loop paid |ns| scans — at sf1.0 the fused serve measures ~2× faster
    * and the scan dominates outright at corpus scale). Zero-hit sizes
    * still emit a (n, 0, 0) row, as the per-n global aggregate did. */
  private def decontamCurveMultiN(spark: SparkSession, wh: graft.core.Warehouse,
                                  corpus: DataFrame, ns: Seq[Int]): DataFrame = {
    import spark.implicits._
    val curve = DecontamStore
      .contaminatedMultiN(wh, "guard", "dc", corpus, "doc_id", "text", ns)
      .groupBy(col("n_gram"))
      .agg(count(lit(1)).as("f"), sum(col("n_eval_grams")).as("m"))
    ns.map(_.toLong).toDF("n_gram")
      .join(curve, Seq("n_gram"), "left")
      .select(col("n_gram"), coalesce(col("f"), lit(0L)).as("n_flagged"),
        coalesce(col("m"), lit(0L)).as("n_matched"))
      .orderBy(col("n_gram"))
  }

  /** The store lifecycles of q169, q177 and q191 as (build, serve) pairs.
    * Bench times the two phases apart: `build` is the one-time
    * registration a deployment pays once per benchmark, `serve` the
    * recurring per-arrival path the store exists for (timed together,
    * the two phases read 2.9×/4.4× their oracle at sf1.0). Each registry query is
    * [[QueryUtil.buildThenServe]] of its pair, so the oracle checks the
    * rows Bench times.
    *
    * q169 and q191 share a store: `build` registers the eval split
    * (doc_id % 97 = 0) as two benchmark halves by doc_id parity, and
    * `serve0` runs over the store and the rest of the corpus. */
  private def halvesBuildServe(spark: SparkSession, dir: String, tag: String)(
      serve0: (graft.core.Warehouse, DataFrame) => DataFrame)
      : (() => Unit, () => DataFrame) = {
    val docs = docsWide(spark, dir).select(col("doc_id"), col("text"))
    val whDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val build = () => {
      DecontamStore.registerBenchmark(wh, "guard", "dc", "bench_even",
        evalDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 4)
      DecontamStore.registerBenchmark(wh, "guard", "dc", "bench_odd",
        evalDocs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", n = 4)
    }
    (build, () => QueryUtil.withTempWarehouse(whDir)(serve0(wh, corpus)))
  }

  /** `serve` checks the two corpus batches and reads the verdicts. */
  def q169BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    halvesBuildServe(spark, dir, "q169") { (wh, corpus) =>
      DecontamStore.checkBatch(wh, "guard", "dc",
        corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 4)
      DecontamStore.checkBatch(wh, "guard", "dc",
        corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", n = 4)
      DecontamStore.verdicts(wh, "guard", "dc").orderBy(col("doc_id"))
    }

  /** `serve` trims the two corpus batches against the store. */
  def q191BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) =
    halvesBuildServe(spark, dir, "q191") { (wh, corpus) =>
      Seq(0, 1).map { b =>
        DecontamStore.trimSpans(wh, "guard", "dc",
          corpus.filter(col("doc_id") % 2 === b), "doc_id", "text", n = 4)
      }.reduce(_.unionByName(_)).orderBy(col("doc_id"))
    }

  /** `build` persists the (id, text) projection and registers the three
    * n-gram sizes; `serve` runs the fused curve over the cached corpus. */
  def q177BuildServe(spark: SparkSession, dir: String): (() => Unit, () => DataFrame) = {
    val docs = docsWide(spark, dir).select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val whDir = java.nio.file.Files.createTempDirectory("graft_q177_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    val build = () => Seq(3, 4, 6).foreach(n => DecontamStore.registerBenchmark(
      wh, "guard", "dc", "bench", evalDocs, "doc_id", "text", n))
    val serve = () => {
      val out = QueryUtil.withTempWarehouse(whDir) {
        decontamCurveMultiN(spark, wh, corpus, Seq(3, 4, 6))
      }
      docs.unpersist()
      out
    }
    (build, serve)
  }

  /** q185: per-source benchmark-leakage matrix — WHERE the contamination
    * comes from: q42's store-served check joined back to the source
    * dimension, rolled up as (source, n_docs, n_flagged, n_matched,
    * leak_rate_e4). The triage between q42 (which docs) and q170 (which
    * benchmark items): a source whose leak rate dwarfs the rest is a
    * scraped-the-benchmark feed you drop WHOLESALE instead of filtering
    * doc by doc — the decision this matrix exists to make before paying
    * per-doc decontamination at 100 TB.
    *
    * Scale shape: q169's serve shape exactly — one corpus scan, row-local
    * gram explode, broadcast store join — plus a uniform-id left join of
    * the (doc, source) projection and a sources-bounded rollup; the rate
    * is one integer DIV. */
  def q185SourceLeakMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir)
    val whDir = java.nio.file.Files.createTempDirectory("graft_q185_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    DecontamStore.registerBenchmark(wh, "guard", "dc", "bench",
      docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text")),
      "doc_id", "text", n = 4)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    QueryUtil.withTempWarehouse(whDir) {
      val flagged = DecontamStore.contaminated(wh, "guard", "dc",
        corpus.select(col("doc_id"), col("text")), "doc_id", "text", n = 4)
      corpus.select(col("doc_id"), col("source"))
        .join(flagged, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_eval_grams").isNotNull, 1L).otherwise(0L))
            .as("n_flagged"),
          coalesce(sum(col("n_eval_grams")), lit(0L)).as("n_matched"))
        .select(col("source"), col("n_docs"), col("n_flagged"),
          col("n_matched"),
          expr("n_flagged * 10000L div n_docs").as("leak_rate_e4"))
        .orderBy(col("source"))
    }
  }

  /** q187: vocabulary growth curve (the Heaps'-law audit) — per arrival
    * batch of 100 docs: documents, token occurrences, token TYPES never
    * seen in any earlier batch, and the running type total
    * ([[CorpusCuration.vocabularyGrowth]]). The "when does this crawl
    * stop teaching the tokenizer new words" input — a batch whose
    * new_types collapses while n_tokens holds is repetition of known
    * vocabulary, the stop-crawling-this-source signal (and q147's
    * complementary curve from the BPE merge side). One token shuffle for
    * the first-arrival min; everything after is batch-count-sized. */
  def q187VocabGrowth(spark: SparkSession, dir: String): DataFrame =
    CorpusCuration.vocabularyGrowth(
      Tables(spark, dir, "documents"), "doc_id", "text", batchSize = 100L)
      .orderBy(col("batch"))

  /** q162: decontamination aggressiveness curve — flagged-doc and
    * matched-gram counts at n-gram size ∈ {3, 4, 6} against the q42 eval
    * split: the "choose n" tuning input for the decontam family (q42
    * runs n=4; smaller n flags more aggressively, larger n only verbatim
    * stretches) — where the flagged count stops falling, a longer n only
    * misses real contamination. Completes the tuning-curve suite into
    * the decontamination domain.
    *
    * Scale shape: the (id, text) projection is persisted so the corpus
    * parquet is scanned once; each curve point is the PROVEN q42
    * pipeline at its n (row-local fused tokenize+gram+hash, broadcast
    * eval-gram set, one map-side-combinable aggregate) collapsed to a
    * single row — three independent broadcast-join passes over the
    * cached projection, no pair stage, nothing driver-side. */
  def q162DecontamCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir).select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val out = Seq(3, 4, 6).map { n =>
      Decontaminate.contaminated(corpus, evalDocs, "doc_id", "text", n)
        .agg(count(lit(1)).as("n_flagged"),
          coalesce(sum(col("n_eval_grams")), lit(0L)).as("n_matched"))
        .select(lit(n.toLong).as("n_gram"), col("n_flagged"), col("n_matched"))
    }.reduce(_.unionByName(_)).orderBy(col("n_gram")).localCheckpoint(true)
    docs.unpersist()
    out
  }

  /** q176: crawl-snapshot corpus diff — the recrawl question "how much of
    * the new snapshot is actually new?": every doc of snapshot B (odd
    * doc-id block, q135's parity that cycles each source through both
    * snapshots) classifies as `unchanged` (canonical fingerprint exists
    * in A), `minor_edit` (no fp match but a verified cross-snapshot
    * near-dup ≥ 0.5 — the re-templated / lightly-edited recrawl page), or
    * `new`; A docs whose fp vanished count as `removed`. Per-source
    * rollup — the ingest-or-skip decision input before paying to process
    * a recrawl.
    *
    * Scale shape: the cross-snapshot pair stage is the PROVEN incremental
    * path (B signs once, A's signatures come from storage — q99's
    * premise), so a recrawl diff costs O(new snapshot) + the fp
    * anti-joins; fingerprints are row-local md5s and both fp sets shuffle
    * once on uniform keys. The oracle replays the full q20 chain
    * restricted to cross-snapshot pairs — incremental ≡ full-restricted
    * is q99's own oracle-pinned equivalence, re-used here. */
  def q176CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val docs = docsWide(spark, dir).select(col("doc_id"), col("source"), col("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val snap = expr("(doc_id div 20) % 2")
    val snapA = docs.filter(snap === 0)
    val snapB = docs.filter(snap === 1)
    val prior = Dedup.signDocuments(snapA, "doc_id", "text", K, N)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs =
      try Dedup.nearDupPairsIncremental(snapB, "doc_id", "text", prior,
        k = K, b = B, shingleN = N, minJaccard = 0.5,
        candidatePairBudget = 0L)
      finally prior.unpersist()
    val bNear = pairs
      .filter(expr("((a_id div 20) % 2) <> ((b_id div 20) % 2)"))
      .select(when(expr("(a_id div 20) % 2") === 1, col("a_id"))
        .otherwise(col("b_id")).as("doc_id"))
      .distinct()
    val fpOf = TextFunctions.fingerprint(col("text"))
    val aFp = snapA.select(col("source"), fpOf.as("fp"))
    val bFp = snapB.select(col("doc_id"), col("source"), fpOf.as("fp"))
    val bCls = bFp
      .join(aFp.select(col("fp")).distinct().withColumn("__ina", lit(1L)),
        Seq("fp"), "left")
      .join(bNear.withColumn("__nd", lit(1L)), Seq("doc_id"), "left")
      .select(col("source"),
        when(col("__ina").isNotNull, lit("unchanged"))
          .when(col("__nd").isNotNull, lit("minor_edit"))
          .otherwise(lit("new")).as("cls"))
    val bAgg = bCls.groupBy(col("source")).agg(
      sum(when(col("cls") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
      sum(when(col("cls") === "minor_edit", 1L).otherwise(0L)).as("n_minor_edit"),
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"))
    val removed = aFp
      .join(bFp.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_removed"))
    val out = bAgg.join(removed, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_unchanged"), lit(0L)).as("n_unchanged"),
        coalesce(col("n_minor_edit"), lit(0L)).as("n_minor_edit"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy(col("source")).localCheckpoint(true)
    docs.unpersist()
    out
  }

  /** q179: dedup-aware token-budget selection — q143's budgeted prefix
    * computed over EFFECTIVE tokens (n_tok · q138's soft-dedup weight):
    * a document crawled five times contributes a fifth of its tokens to
    * the budget, so the selected set maximizes UNIQUE training mass, not
    * raw mass — the composition data-constrained scaling actually wants
    * (raw-budget selection over a duplicated corpus silently spends the
    * budget on copies). Output is the kept prefix with its effective
    * cumsum; budget = half the corpus's effective tokens.
    *
    * Scale shape: one pair+CC run for the weights (q41's envelope), one
    * scored scan, then q143's decomposed cumsum — per-bucket token sums,
    * the tiny strictly-higher running total broadcast back, the only
    * corpus-sized window partitioned BY bucket. The ORACLE is the naive
    * global window over the recursive-CTE weights — hash-equality proves
    * decomposed ≡ global, the q143 pattern extended with the dedup join. */
  def q179DedupBudgetSelect(spark: SparkSession, dir: String): DataFrame =
    dedupBudgetSelectOver(docsWide(spark, dir))

  /** q183: q179's dedup-aware budget selection over the mod-2 id-hash
    * sample — the committed sf1.0 hash evidence for the budget-select CC
    * composite (q164's trick extended through the weights join and the
    * bucket-decomposed cumsum: the sampled pair graph is cluster-closed,
    * so every sampled doc's n_dups — and therefore its effective tokens
    * and the half-mass budget — is a pure function of the sample). */
  def q183SampledDedupBudget(spark: SparkSession, dir: String): DataFrame =
    dedupBudgetSelectOver(sampledHalf(docsWide(spark, dir)))

  private def dedupBudgetSelectOver(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val clusters = Clusters.dedupClusters(
      Dedup.nearDupPairs(docs, "doc_id", "text",
        k = K, b = B, shingleN = N, minJaccard = 0.5))
    val weights = clusters
      .join(clusters.groupBy(col("cluster")).agg(count(lit(1)).as("n")),
        Seq("cluster"))
      .select(col("doc_id"), col("n").as("n_dups"))
    val scored = docs.select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        fixedPoint(qualityScore(col("text")), 4).as("quality_e4"))
      .join(weights, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_e4"),
        expr("n_tok * (10000 div coalesce(n_dups, 1L)) div 10000").as("eff_tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val buckets = scored.groupBy(col("quality_e4"))
      .agg(sum(col("eff_tok")).as("bucket_tok"))
    val wHi = Window.orderBy(col("quality_e4").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hi = buckets.select(col("quality_e4"),
      coalesce(sum(col("bucket_tok")).over(wHi), lit(0L)).as("hi_tok"))
    val budget = buckets.agg(expr("sum(bucket_tok) div 2").as("budget"))
    val wIn = Window.partitionBy(col("quality_e4")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = scored
      .withColumn("cum_in", sum(col("eff_tok")).over(wIn))
      .join(broadcast(hi), Seq("quality_e4"))
      .join(broadcast(budget), lit(true))
      .withColumn("cum_eff", col("hi_tok") + col("cum_in"))
      .filter(col("cum_eff") <= col("budget"))
      .select(col("doc_id"), col("quality_e4"), col("eff_tok"), col("cum_eff"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    scored.unpersist()
    out
  }

  /** q43: Gopher-style repetition/shape stats + the composite keep flag. */
  def q43GopherStats(spark: SparkSession, dir: String): DataFrame =
    docsWide(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        dupTokenFracE4(col("text")).as("dup_frac_e4"),
        topTokenFracE4(col("text")).as("top_frac_e4"),
        meanTokenLenE4(col("text")).as("mean_len_e4"))
      .withColumn("gopher_pass",
        col("n_tokens") >= 30 && col("dup_frac_e4") <= 6000 &&
          col("top_frac_e4") <= 1200 &&
          col("mean_len_e4").between(40000, 50000))
      .orderBy(col("doc_id"))

  /** q44: BM25 top-20 for a fixed term mix (one rare + two common terms). */
  def q44Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    Search.bm25TopK(docsWide(spark, dir), "doc_id", "text",
      terms = Seq("dup", "table", "join"), k = 20)

  /** Per-language sampling rates (e4) for q45 — a training-mixture spec. */
  private val sampleRates: Seq[(String, Int)] =
    Seq("en" -> 5000, "de" -> 2500, "fr" -> 2500, "es" -> 1000, "zh" -> 1000)

  /** q45: deterministic stratified sampling — per-language keep rates over
    * an md5 bucket of the doc id; every engine keeps the same rows. */
  def q45StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = sampleRates.foldRight(lit(500)) { case ((l, r), acc) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables(spark, dir, "documents")
      .withColumn("rate_e4", rate)
      .withColumn("keep", TextFunctions.sampleBucket(col("doc_id")) < col("rate_e4"))
      .groupBy(col("lang"), col("rate_e4"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** q46: PII detection + redaction. The fixture corpus carries no PII, so
    * the query plants deterministic synthetic PII (email/IP/phone derived
    * from doc_id) and then proves the redactor removes exactly that — the
    * oracle rebuilds the same dirty text and applies the same regexes. */
  def q46PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val dirty = concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@mail.example.com"))).otherwise(lit("")),
      when(id % 2 === 0, concat(lit(" from 10."), (id % 200).cast("string"),
        lit(".0."), (id % 250).cast("string"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" call +1-555-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
    docsWide(spark, dir)
      .select(col("doc_id"),
        regexp_count(dirty, lit(TextFunctions.EmailRe)).cast("long").as("n_emails"),
        regexp_count(dirty, lit(TextFunctions.Ipv4Re)).cast("long").as("n_ips"),
        regexp_count(dirty, lit(TextFunctions.PhoneRe)).cast("long").as("n_phones"),
        md5(redactPii(dirty)).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** q55: "more like this" — top-10 docs by integer tf-idf token overlap
    * with doc 0 (Search.moreLikeThis). */
  def q55MoreLikeThis(spark: SparkSession, dir: String): DataFrame =
    Search.moreLikeThis(docsWide(spark, dir), "doc_id", "text",
      queryId = 0L, k = 10)

  /** q56: fingerprint-level decontamination — winnowing containment vs the
    * eval slice, catching embedded verbatim spans that the word-n-gram
    * check (q42) under-weights. */
  def q56FingerprintDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWide(spark, dir)
    Decontaminate.fingerprintContaminated(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q57: token-window chunking (size 32, stride 24) — one row per
    * passage with its token count and content fingerprint. */
  def q57TokenChunks(spark: SparkSession, dir: String): DataFrame =
    Chunker.tokenChunks(docsWide(spark, dir), "doc_id", "text",
      size = 32, stride = 24)
      .select(col("doc_id"), col("chunk_idx"),
        tokenCount(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** q58: passage-level duplication profile — per doc, how many of its
    * non-overlapping 32-token passages occur verbatim in another doc. */
  def q58PassageDup(spark: SparkSession, dir: String): DataFrame =
    Chunker.passageDupStats(docsWide(spark, dir), "doc_id", "text", size = 32)
      .orderBy(col("doc_id"))

  /** Target mixture weights per language (e4, sum = 10000) and the token
    * budget for q59 — a training-mixture plan. */
  private val mixtureWeights: Seq[(String, Int)] =
    Seq("en" -> 4000, "de" -> 2000, "fr" -> 2000, "es" -> 1000, "zh" -> 1000)
  private val MixtureBudgetTokens = 12000L

  /** q59: mixture planning — given per-language target weights and a total
    * token budget, derive each language's sampling rate from its MEASURED
    * token mass (rate = budget·weight / tokens, capped at 1) and the token
    * count that rate yields. The planning step upstream of q45's fixed-rate
    * sampler. One partial-agg scan; arithmetic is integer-derived at every
    * step so the oracle is bit-exact. */
  def q59MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val weight = mixtureWeights.foldRight(lit(0)) { case ((l, w), acc) =>
      when(col("lang") === l, lit(w)).otherwise(acc)
    }
    Tables(spark, dir, "documents")
      .select(col("lang"), tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("weight_e4", weight)
      .withColumn("rate_e4", least(lit(10000L), TextFunctions.fixedPoint(
        (lit(MixtureBudgetTokens) * col("weight_e4") / lit(10000)) / col("n_tokens"), 4)))
      .withColumn("planned_tokens", TextFunctions.fixedPoint(
        col("n_tokens") * col("rate_e4") / lit(10000.0), 0))
      .orderBy(col("lang"))
  }

  /** Sequence token budget for q63 (a training context window). */
  private val PackBudget = 512L

  /** q63: concat-and-split sequence packing — per (source shard, sequence):
    * contributing docs, token fill (= budget except the shard's last), and
    * boundary-crossing docs. The step between curation and the trainer;
    * packs shards in parallel, no global sort anywhere in the plan. */
  def q63SequencePack(spark: SparkSession, dir: String): DataFrame =
    Chunker.packSequences(Tables(spark, dir, "documents"),
      "doc_id", "text", "source", budget = PackBudget)
      .orderBy(col("source"), col("seq_id"))

  /** q109: length-bucketed batching — docs batch with similar-length
    * docs (20-token buckets, 8 docs/batch) and each batch reports its
    * padding waste (rows pad to the batch max). The serving/training
    * prep step that turns a shuffled corpus into low-waste batches;
    * window-per-bucket, integer arithmetic throughout. */
  def q109LengthBatches(spark: SparkSession, dir: String): DataFrame =
    Chunker.lengthBucketedBatches(Tables(spark, dir, "documents"),
      "doc_id", "text", bucketWidth = 20L, batchSize = 8)
      .groupBy(col("bucket"), col("batch_no"))
      .agg(count(lit(1)).as("n_rows"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("pad_waste", col("n_rows") * col("max_tok") - col("n_tokens"))
      .orderBy(col("bucket"), col("batch_no"))

  /** q67: intra-doc repetition removal — per doc, total vs kept 2-token
    * windows and the fingerprint of the de-repeated text (the within-doc
    * boilerplate scrub; row-local, zero shuffle). */
  def q67RepetitionRemoval(spark: SparkSession, dir: String): DataFrame =
    Chunker.dropRepeatedPassages(docsWide(spark, dir), "doc_id", "text", size = 2)
      .orderBy(col("doc_id"))

  /** q96: hybrid retrieval — lexical (tf-idf more-like-this) and vector
    * (exact cosine) rankings for 3 query docs, fused by reciprocal-rank
    * fusion (Σ 1/(60+rank)): the standard RAG serving pattern when score
    * scales aren't comparable. The text leg scores all queries in ONE
    * corpus pass (broadcast query vectors); the vector leg is q22's
    * broadcast-queries scan; fusion is a full-outer join of two ≤ |Q|·20
    * frames. doc_id ≡ vec_id in the fixture (aligned tables). */
  def q96HybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val text = Search.moreLikeThisMulti(
      docsWide(spark, dir), "doc_id", "text", Seq(0L, 1L, 2L), 20)
    val vec = graft.operators.Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 20)
      .withColumnRenamed("neighbor_id", "doc_id")
    Search.rrfFuse(text, vec, "doc_id", k = 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** q98: epoch-planned mixture materialization — the step AFTER q59's
    * rate planning: actually EMIT the training rows, with small
    * high-value sources upsampled across multiple epochs (capped at 3.0)
    * and fractional epochs realized by the q45 deterministic hash bucket.
    * Per-source epoch factor = min(3.0, budget/source_tokens) with budget
    * = 2× corpus tokens split evenly — all integer DIV arithmetic. A doc
    * with factor 2.3 appears in epochs 0 and 1, plus epoch 2 iff its
    * bucket < 3000. Replication is a row-local sequence explode — the
    * output shuffles nowhere; at 100 TB the materialization is
    * write-bound, exactly as it should be. */
  def q98EpochMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = docsWide(spark, dir).select(col("doc_id"), col("source"),
      tokenCount(col("text")).cast("long").as("n_tok"))
    val s = d.groupBy(col("source")).agg(sum(col("n_tok")).as("n_tok_s"))
    val tot = s.agg(sum(col("n_tok_s")).as("total"),
      count(lit(1)).as("n_sources"))
    val plan = s.join(broadcast(tot), lit(true))
      .withColumn("epochs_e4",
        least(lit(30000L), expr("((2 * total) DIV n_sources * 10000) DIV n_tok_s")))
      .select(col("source"), col("epochs_e4"))
    d.join(broadcast(plan), "source")
      .withColumn("copies", expr("epochs_e4 DIV 10000")
        + when(TextFunctions.sampleBucket(col("doc_id")) < col("epochs_e4") % 10000,
          1L).otherwise(0L))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(CAST(0 AS BIGINT), copies - 1)")).as("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_hybrid_retrieval" -> (q96HybridRetrieval _),
    "q98_epoch_mixture" -> (q98EpochMixture _),
    "q67_repetition_removal" -> (q67RepetitionRemoval _),
    "q63_sequence_pack" -> (q63SequencePack _),
    "q109_length_batches" -> (q109LengthBatches _),
    "q57_token_chunks" -> (q57TokenChunks _),
    "q58_passage_dup" -> (q58PassageDup _),
    "q59_mixture_plan" -> (q59MixturePlan _),
    "q41_dedup_clusters" -> (q41DedupClusters _),
    "q160_incremental_clusters" -> (q160IncrementalClusters _),
    "q164_sampled_clusters" -> (q164SampledClusters _),
    "q150_best_of_cluster" -> (q150BestOfCluster _),
    "q180_cap_k_dedup" -> (q180CapKDedup _),
    "q183_sampled_dedup_budget" -> (q183SampledDedupBudget _),
    "q184_sampled_cap_k" -> (q184SampledCapK _),
    "q194_sampled_cluster_splits" -> (q194SampledClusterSplits _),
    "q159_dup_quality_contingency" -> (q159DupQualityContingency _),
    "q138_dedup_weights" -> (q138DedupWeights _),
    "q139_split_leakage" -> (q139SplitLeakage _),
    "q140_cluster_splits" -> (q140ClusterSplits _),
    "q55_more_like_this" -> (q55MoreLikeThis _),
    "q56_fp_decontaminate" -> (q56FingerprintDecontaminate _),
    "q42_decontaminate" -> (q42Decontaminate _),
    "q188_decontam_trim" -> (q188DecontamTrim _),
    "q189_trim_policy_audit" -> (q189TrimPolicyAudit _),
    "q191_trim_store" -> (q191TrimStore _),
    "q169_decontam_store" -> (q169DecontamStore _),
    "q170_decontam_attribution" -> (q170DecontamAttribution _),
    "q196_decontam_retire" -> (q196DecontamRetire _),
    "q176_corpus_diff" -> (q176CorpusDiff _),
    "q179_dedup_budget_select" -> (q179DedupBudgetSelect _),
    "q185_source_leak_matrix" -> (q185SourceLeakMatrix _),
    "q187_vocab_growth" -> (q187VocabGrowth _),
    "q162_decontam_curve" -> (q162DecontamCurve _),
    "q177_decontam_curve_store" -> (q177DecontamCurveStore _),
    "q43_gopher_stats" -> (q43GopherStats _),
    "q44_bm25_topk" -> (q44Bm25TopK _),
    "q45_stratified_sample" -> (q45StratifiedSample _),
    "q46_pii_redact" -> (q46PiiRedact _))

  // ---- oracle SQL ----

  // the pairs→components→canonical oracle tail, parameterized by the doc
  // CTE chain so the full corpus (q41/q160) and the mod-2 id-hash sample
  // (q164 — the scale surrogate DuckDB can finish at sf1.0) share one
  // derivation
  // the mod-2 id-hash sample CTE + the pair chain over it — shared by the
  // sampled CC composites (q183/q184); mirrors [[sampledHalf]] exactly
  private lazy val sampledPairCtes: String =
    raw"""smpl AS (SELECT doc_id, text, source FROM documents
         WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 2 = 0),
       ${DedupQueries.nearDupPairsCtesFrom("smpl")}"""

  // q180's derivation parameterized by the doc base so the full corpus
  // and the mod-2 sample (q184 — DuckDB-feasible at sf1.0) share it
  private def capKDedupSqlOver(pairCtes: String, base: String): String =
    raw"""WITH RECURSIVE $pairCtes,
       p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
       edges AS (SELECT a_id AS s, b_id AS d FROM p2
                 UNION ALL SELECT b_id, a_id FROM p2),
       reach(id, lab) AS (
         SELECT DISTINCT s AS id, s AS lab FROM edges
         UNION
         SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
         WHERE r.lab < e.d),
       cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
       qt AS (SELECT doc_id, ${TextQueries.tokCountSql} AS n_tok,
           ${TextQueries.punctCountSql} AS n_punct,
           ${TextQueries.stopCountSql} AS n_stop, len(text) AS n_chr
         FROM $base),
       q AS (SELECT doc_id, CAST(floor((least(n_tok/100.0, 1.0)*0.4
           + (1.0 - CASE WHEN n_chr>0 THEN n_punct/CAST(n_chr AS DOUBLE) ELSE 0.0 END)*0.3
           + least(CASE WHEN n_tok>0 THEN n_stop*5.0/n_tok ELSE 0.0 END, 1.0)*0.3)*10000 + 0.5) AS BIGINT) AS quality_e4
         FROM qt),
       m AS (SELECT cl.cluster, cl.doc_id, q.quality_e4,
           CAST(row_number() OVER (PARTITION BY cl.cluster
             ORDER BY q.quality_e4 DESC, cl.doc_id) AS BIGINT) AS rank,
           CAST(count(*) OVER (PARTITION BY cl.cluster) AS BIGINT) AS n_dups
         FROM cl JOIN q USING (doc_id))
       SELECT cluster, doc_id, quality_e4, rank, n_dups, rank <= 3 AS kept
       FROM m ORDER BY cluster, rank"""

  // q140's derivation parameterized the same way (q194 = the mod-2 sample)
  private def clusterSplitsSqlOver(pairCtes: String, base: String): String =
    raw"""WITH RECURSIVE $pairCtes,
       p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
       edges AS (SELECT a_id AS s, b_id AS d FROM p2
                 UNION ALL SELECT b_id, a_id FROM p2),
       reach(id, lab) AS (
         SELECT DISTINCT s AS id, s AS lab FROM edges
         UNION
         SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
         WHERE r.lab < e.d),
       cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
       j AS (SELECT d.doc_id, d.source,
           coalesce(cl.cluster, d.doc_id) AS cluster
         FROM $base d LEFT JOIN cl ON cl.doc_id = d.doc_id),
       hb AS (SELECT doc_id, source, cluster,
           CAST(('0x'||substr(md5('split:'||CAST(cluster AS VARCHAR)),1,15)) AS BIGINT)
             % 10000 AS b FROM j)
       SELECT doc_id, source, cluster,
         CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val'
              ELSE 'test' END AS split
       FROM hb ORDER BY doc_id"""

  // q179's derivation parameterized the same way (q183 = the mod-2 sample)
  private def dedupBudgetSqlOver(pairCtes: String, base: String): String =
    raw"""WITH RECURSIVE $pairCtes,
       p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
       edges AS (SELECT a_id AS s, b_id AS d FROM p2
                 UNION ALL SELECT b_id, a_id FROM p2),
       reach(id, lab) AS (
         SELECT DISTINCT s AS id, s AS lab FROM edges
         UNION
         SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
         WHERE r.lab < e.d),
       cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
       sz AS (SELECT cluster, count(*) AS n FROM cl GROUP BY 1),
       tq AS (SELECT doc_id, ${TextQueries.tokCountSql} AS n_tok,
           ${TextQueries.punctCountSql} AS n_punct,
           ${TextQueries.stopCountSql} AS n_stop, len(text) AS n_chr
         FROM $base),
       sq AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(floor((least(n_tok/100.0, 1.0)*0.4
             + (1.0 - CASE WHEN n_chr>0 THEN n_punct/CAST(n_chr AS DOUBLE) ELSE 0.0 END)*0.3
             + least(CASE WHEN n_tok>0 THEN n_stop*5.0/n_tok ELSE 0.0 END, 1.0)*0.3)*10000 + 0.5) AS BIGINT) AS quality_e4
         FROM tq),
       w AS (SELECT sq.doc_id, sq.quality_e4,
           CAST(sq.n_tok * (10000 // coalesce(sz.n, 1)) // 10000 AS BIGINT) AS eff_tok
         FROM sq LEFT JOIN cl ON cl.doc_id = sq.doc_id
         LEFT JOIN sz ON sz.cluster = cl.cluster),
       tot AS (SELECT CAST(sum(eff_tok) // 2 AS BIGINT) AS budget FROM w),
       c AS (SELECT doc_id, quality_e4, eff_tok,
           CAST(sum(eff_tok) OVER (ORDER BY quality_e4 DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_eff
         FROM w)
       SELECT doc_id, quality_e4, eff_tok, cum_eff
       FROM c, tot WHERE cum_eff <= budget ORDER BY doc_id"""

  private def clustersSqlOver(ctes: String): String =
    raw"""WITH RECURSIVE $ctes,
       p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
       edges AS (SELECT a_id AS s, b_id AS d FROM p2
                 UNION ALL SELECT b_id, a_id FROM p2),
       reach(id, lab) AS (
         SELECT DISTINCT s AS id, s AS lab FROM edges
         UNION
         SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
         WHERE r.lab < e.d)
       SELECT min(lab) AS cluster, id AS doc_id, min(lab) = id AS is_canonical
       FROM reach GROUP BY id ORDER BY 1, 2"""

  // shared by q41 (direct) and q160 (incremental path, same contract)
  private val q41ClustersSql: String =
    clustersSqlOver(DedupQueries.nearDupPairsCtes)

  private val tksSql =
    raw"CASE WHEN len(trim(text))=0 THEN [] ELSE regexp_split_to_array(trim(text),'\s+') END"

  private val gramsSql =
    raw"""CASE WHEN len(tks) >= 4
         THEN list_distinct([array_to_string(tks[i+1:i+4],' ') for i in range(0, len(tks)-3)])
         ELSE [] END"""

  // q188/q189's shared derivation: positional corpus grams (struct list
  // comprehension — positions are 1-based gram starts), the broadcast-side
  // eval gram set (q42's), gaps-and-islands interval merge over the sorted
  // match positions (a match at pos p covers tokens [p, p+4); islands
  // break when pos > prev + 4 — the same rule as the engine's row-local
  // merge), and the per-doc span stats
  private val q188Ctes =
    raw"""t AS (SELECT doc_id, $tksSql AS tks FROM documents),
       eg AS (SELECT DISTINCT CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) AS gh
         FROM (SELECT unnest($gramsSql) AS x FROM t WHERE doc_id % 97 = 0)),
       cg AS (SELECT doc_id, len(tks) AS n_tokens,
           unnest([{'pos': i+1,
               'gh': CAST(('0x'||substr(md5(array_to_string(tks[i+1:i+4],' ')),1,15)) AS BIGINT)}
             for i in range(0, len(tks)-3)]) AS u
         FROM t WHERE doc_id % 97 <> 0),
       hit AS (SELECT doc_id, n_tokens, u.pos AS pos
         FROM cg JOIN eg ON u.gh = eg.gh),
       brk AS (SELECT doc_id, n_tokens, pos,
           CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 4
             THEN 1 ELSE 0 END AS b
         FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       isl AS (SELECT doc_id, n_tokens, pos,
           sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
       iv AS (SELECT doc_id, any_value(n_tokens) AS n_tokens, g,
           min(pos) AS s, max(pos) + 4 AS e, count(*) AS n_grams_iv
         FROM isl GROUP BY doc_id, g),
       st AS (SELECT doc_id, CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_grams_iv) AS BIGINT) AS n_contam_grams,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(min(s) AS BIGINT) AS span_first_tok,
           CAST(max(e) - 1 AS BIGINT) AS span_last_tok,
           CAST(sum(e - s) AS BIGINT) AS covered_tokens,
           CAST(any_value(n_tokens) - sum(e - s) AS BIGINT) AS kept_tokens
         FROM iv GROUP BY doc_id)"""

  private val q188Sql =
    raw"""WITH $q188Ctes,
       tok AS (SELECT t.doc_id, unnest(tks) AS tk, generate_subscripts(tks, 1) AS idx
         FROM t JOIN st ON t.doc_id = st.doc_id),
       kept AS (SELECT tok.doc_id, tk, idx FROM tok
         WHERE NOT EXISTS (SELECT 1 FROM iv
           WHERE iv.doc_id = tok.doc_id AND tok.idx >= iv.s AND tok.idx < iv.e)),
       tm AS (SELECT doc_id, md5(string_agg(tk, ' ' ORDER BY idx)) AS trimmed_md5
         FROM kept GROUP BY doc_id)
       SELECT st.doc_id, n_tokens, n_contam_grams, n_spans, span_first_tok,
         span_last_tok, covered_tokens, kept_tokens,
         coalesce(tm.trimmed_md5, md5('')) AS trimmed_md5
       FROM st LEFT JOIN tm ON st.doc_id = tm.doc_id ORDER BY st.doc_id"""

  private val q189Sql =
    raw"""WITH $q188Ctes,
       sev AS (SELECT CASE
             WHEN CAST(floor(covered_tokens / n_tokens * 10000 + 0.5) AS BIGINT) >= 5000
               THEN 'heavy'
             WHEN CAST(floor(covered_tokens / n_tokens * 10000 + 0.5) AS BIGINT) >= 1000
               THEN 'medium'
             ELSE 'light' END AS severity,
           n_tokens, covered_tokens, kept_tokens FROM st)
       SELECT severity, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_lost_drop,
         CAST(sum(covered_tokens) AS BIGINT) AS tokens_cut_trim,
         CAST(sum(kept_tokens) AS BIGINT) AS tokens_saved_trim
       FROM sev GROUP BY 1 ORDER BY 1"""

  // q196: q42's derivation with the eval side restricted to the ODD half —
  // the post-retirement gram set (the even benchmark's rows are gone and
  // its verdicts invalidated, so the surviving answer is exactly this)
  private lazy val q196Sql =
    raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
       g AS (SELECT doc_id, list_transform($gramsSql,
           x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS ghs FROM t),
       eg AS (SELECT DISTINCT unnest(ghs) AS gh FROM g
              WHERE doc_id % 97 = 0 AND doc_id % 2 <> 0),
       cg AS (SELECT doc_id, unnest(ghs) AS gh FROM g WHERE doc_id % 97 <> 0)
       SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_eval_grams
       FROM cg JOIN eg USING (gh) GROUP BY 1 ORDER BY 1"""

  // q42's derivation, shared verbatim by q169 (store-served parity pin)
  private val q42Sql =
    raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
       g AS (SELECT doc_id, list_transform($gramsSql,
           x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS ghs FROM t),
       eg AS (SELECT DISTINCT unnest(ghs) AS gh FROM g WHERE doc_id % 97 = 0),
       cg AS (SELECT doc_id, unnest(ghs) AS gh FROM g WHERE doc_id % 97 <> 0)
       SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_eval_grams
       FROM cg JOIN eg USING (gh) GROUP BY 1 ORDER BY 1"""

  private val oraclesHead: Map[String, String] = Map(
    "q98_epoch_mixture" ->
      raw"""WITH d AS (SELECT doc_id, source, CAST(len($tksSql) AS BIGINT) AS n_tok
             FROM documents),
         s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tok_s FROM d GROUP BY 1),
         tot AS (SELECT CAST(sum(n_tok_s) AS BIGINT) AS total,
             count(*) AS n_sources FROM s),
         plan AS (SELECT source,
             least(30000, ((2 * total) // n_sources * 10000) // n_tok_s) AS epochs_e4
           FROM s, tot),
         c AS (SELECT doc_id, d.source, epochs_e4 // 10000
             + CASE WHEN CAST(('0x'||substr(md5('samp:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
                 % 10000 < epochs_e4 % 10000 THEN 1 ELSE 0 END AS copies
           FROM d JOIN plan ON d.source = plan.source)
         SELECT doc_id, source, unnest(range(copies)) AS epoch
         FROM c WHERE copies > 0 ORDER BY doc_id, epoch""",
    "q96_hybrid_retrieval" ->
      raw"""WITH occ AS (SELECT doc_id, unnest($tksSql) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM occ GROUP BY 1, 2),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         idf AS (SELECT token,
             CAST(floor((n_docs - df + 0.5)/(df + 0.5)*10000 + 0.5) AS BIGINT) AS idf_e4
           FROM (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1), st),
         qv AS (SELECT doc_id AS q_id, token, tf AS q_tf FROM tf WHERE doc_id < 3),
         ts AS (SELECT q_id, tf.doc_id, CAST(sum(tf.tf * q_tf * idf_e4) AS BIGINT) AS s
           FROM tf JOIN qv USING (token) JOIN idf USING (token)
           WHERE tf.doc_id <> q_id GROUP BY 1, 2),
         tr AS (SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id ORDER BY s DESC, doc_id) AS rank FROM ts),
         tl AS (SELECT q_id, doc_id,
             CAST(floor(1.0/(60 + rank)*1000000 + 0.5) AS BIGINT) AS ra
           FROM tr WHERE rank <= 20),
         e AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qe
           FROM embeddings),
         vs AS (SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
             CAST(floor(list_dot_product(q.qe,c.qe)/(sqrt(CAST(list_dot_product(q.qe,q.qe) AS DOUBLE))
               *sqrt(CAST(list_dot_product(c.qe,c.qe) AS DOUBLE)))*10000 + 0.5) AS BIGINT) AS cs
           FROM e q, e c WHERE q.vec_id < 3 AND q.vec_id <> c.vec_id),
         vr AS (SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, doc_id) AS rank FROM vs),
         vl AS (SELECT q_id, doc_id,
             CAST(floor(1.0/(60 + rank)*1000000 + 0.5) AS BIGINT) AS rb
           FROM vr WHERE rank <= 20),
         f AS (SELECT q_id, doc_id,
             coalesce(ra, 0) + coalesce(rb, 0) AS rrf_e6
           FROM tl FULL JOIN vl USING (q_id, doc_id))
         SELECT q_id, doc_id, rrf_e6, CAST(rr AS INT) AS rank FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY rrf_e6 DESC, doc_id) AS rr FROM f)
         WHERE rr <= 5 ORDER BY q_id, rank""",
    "q67_repetition_removal" ->
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
         c AS (SELECT doc_id,
             [array_to_string(tks[s+1:s+2], ' ') for s in range(0, len(tks), 2)] AS chunks
           FROM t),
         k AS (SELECT doc_id, chunks,
             list_filter(chunks, (x, i) -> list_position(chunks[1:i-1], x) = 0) AS kept
           FROM c)
         SELECT doc_id, CAST(len(chunks) AS BIGINT) AS n_windows,
           CAST(len(kept) AS BIGINT) AS n_kept,
           md5(array_to_string(kept, ' ')) AS cleaned_md5
         FROM k ORDER BY doc_id""",
    "q109_length_batches" ->
      raw"""WITH t AS (SELECT doc_id, CAST(len($tksSql) AS BIGINT) AS n_tok
             FROM documents),
         b AS (SELECT doc_id, n_tok, n_tok // 20 AS bucket
           FROM t WHERE n_tok > 0),
         r AS (SELECT bucket, doc_id, n_tok,
             (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8
               AS batch_no
           FROM b)
         SELECT bucket, batch_no, count(*) AS n_rows,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(count(*)*max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
         FROM r GROUP BY 1, 2 ORDER BY 1, 2""",
    "q63_sequence_pack" ->
      raw"""WITH t AS (SELECT source, doc_id, CAST(len($tksSql) AS BIGINT) AS n_tok
             FROM documents),
         c AS (SELECT source, doc_id, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_after
           FROM t WHERE n_tok > 0),
         s AS (SELECT source, doc_id, cum_after, cum_after - n_tok AS cum_before FROM c),
         x AS (SELECT source, cum_before, cum_after,
             unnest(range(cum_before // 512, (cum_after - 1) // 512 + 1)) AS seq_id
           FROM s)
         SELECT source, seq_id, count(*) AS n_docs,
           CAST(sum(least(cum_after, (seq_id+1)*512) - greatest(cum_before, seq_id*512)) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN cum_before < seq_id*512 OR cum_after > (seq_id+1)*512
             THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    "q57_token_chunks" ->
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
         c AS (SELECT doc_id, tks, unnest(range(0, len(tks), 24)) AS s FROM t)
         SELECT doc_id, s // 24 AS chunk_idx,
           CAST(len(tks[s+1:s+32]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(tks[s+1:s+32], ' ')) AS chunk_md5
         FROM c ORDER BY 1, 2""",
    "q58_passage_dup" ->
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
         c AS (SELECT doc_id, tks, unnest(range(0, len(tks), 32)) AS s FROM t),
         fp AS (SELECT DISTINCT doc_id, md5(array_to_string(tks[s+1:s+32], ' ')) AS fp FROM c),
         df AS (SELECT fp, count(*) AS fp_docs FROM fp GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN fp_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(floor(CAST(sum(CASE WHEN fp_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT) * 10000 + 0.5) AS BIGINT) AS dup_frac_e4
         FROM fp JOIN df USING (fp) GROUP BY 1 ORDER BY 1""",
    "q59_mixture_plan" ->
      raw"""WITH d AS (SELECT lang, CAST(len($tksSql) AS BIGINT) AS n_tok FROM documents),
         a AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
               FROM d GROUP BY 1),
         w AS (SELECT *, CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 2000
             WHEN 'fr' THEN 2000 WHEN 'es' THEN 1000 WHEN 'zh' THEN 1000
             ELSE 0 END AS weight_e4 FROM a)
         SELECT lang, n_docs, n_tokens, CAST(weight_e4 AS INT) AS weight_e4,
           least(10000, CAST(floor((12000*weight_e4/10000)/n_tokens*10000 + 0.5) AS BIGINT)) AS rate_e4,
           CAST(floor(n_tokens*least(10000, CAST(floor((12000*weight_e4/10000)/n_tokens*10000 + 0.5) AS BIGINT))/10000.0 + 0.5) AS BIGINT) AS planned_tokens
         FROM w ORDER BY lang""",
    "q56_fp_decontaminate" ->
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
         ev AS (SELECT * FROM scoped WHERE doc_id % 97 = 0),
         co AS (SELECT * FROM scoped WHERE doc_id % 97 <> 0),
         pairs AS (SELECT co.doc_id AS c_id, ev.doc_id AS e_id, count(*) AS shared
                   FROM co JOIN ev USING (fp) GROUP BY 1, 2)
         SELECT c_id AS doc_id, count(*) AS n_eval_docs,
           CAST(max(shared) AS BIGINT) AS max_shared
         FROM pairs WHERE shared >= 5 GROUP BY 1 ORDER BY 1""",
    "q55_more_like_this" ->
      raw"""WITH occ AS (SELECT doc_id, unnest($tksSql) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM occ GROUP BY 1, 2),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         idf AS (SELECT token,
             CAST(floor((n_docs - df + 0.5)/(df + 0.5)*10000 + 0.5) AS BIGINT) AS idf_e4
           FROM (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1), st),
         qv AS (SELECT token, tf AS q_tf FROM tf WHERE doc_id = 0),
         s AS (SELECT tf.doc_id, CAST(sum(tf.tf * q_tf * idf_e4) AS BIGINT) AS mlt_score
           FROM tf JOIN qv USING (token) JOIN idf USING (token)
           WHERE tf.doc_id <> 0 GROUP BY 1)
         SELECT doc_id, mlt_score FROM s
         ORDER BY mlt_score DESC, doc_id LIMIT 10""",
    "q41_dedup_clusters" -> q41ClustersSql,
    // q164: the same derivation over the mod-2 id-hash sample — the CC
    // family's sf1.0-feasible oracle (see the query scaladoc)
    "q164_sampled_clusters" -> clustersSqlOver(
      raw"""sample AS (SELECT doc_id, text FROM documents
           WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 2 = 0),
         ${DedupQueries.nearDupPairsCtesFrom("sample")}"""),
    // q160: the incremental path is pinned to the FULL-corpus clustering
    // oracle — per-batch star-edge CC must lose nothing vs recomputing.
    "q160_incremental_clusters" -> q41ClustersSql,
    // q138: q41's recursive components + per-cluster sizes, left-joined
    // onto the full corpus — singletons weight 10000 (1.0)
    "q138_dedup_weights" ->
      raw"""WITH RECURSIVE ${DedupQueries.nearDupPairsCtes},
         p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
         edges AS (SELECT a_id AS s, b_id AS d FROM p2
                   UNION ALL SELECT b_id, a_id FROM p2),
         reach(id, lab) AS (
           SELECT DISTINCT s AS id, s AS lab FROM edges
           UNION
           SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
           WHERE r.lab < e.d),
         cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
         sz AS (SELECT cluster, count(*) AS n FROM cl GROUP BY 1),
         j AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster,
             coalesce(sz.n, 1) AS n_dups
           FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
             LEFT JOIN sz ON sz.cluster = cl.cluster)
         SELECT doc_id, cluster, CAST(n_dups AS BIGINT) AS n_dups,
           CAST(10000 // n_dups AS BIGINT) AS weight_e4
         FROM j ORDER BY doc_id""",
    // q159: q150's CC-membership + quality CTEs; decile = least(q//1000, 9),
    // member flag via LEFT JOIN, 10-row contingency, integer-DIV rate.
    "q159_dup_quality_contingency" ->
      raw"""WITH RECURSIVE ${DedupQueries.nearDupPairsCtes},
         p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
         edges AS (SELECT a_id AS s, b_id AS d FROM p2
                   UNION ALL SELECT b_id, a_id FROM p2),
         reach(id, lab) AS (
           SELECT DISTINCT s AS id, s AS lab FROM edges
           UNION
           SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
           WHERE r.lab < e.d),
         cl AS (SELECT DISTINCT id AS doc_id FROM reach),
         qt AS (SELECT doc_id, ${TextQueries.tokCountSql} AS n_tok,
             ${TextQueries.punctCountSql} AS n_punct,
             ${TextQueries.stopCountSql} AS n_stop, len(text) AS n_chr
           FROM documents),
         q AS (SELECT doc_id, CAST(floor((least(n_tok/100.0, 1.0)*0.4
             + (1.0 - CASE WHEN n_chr>0 THEN n_punct/CAST(n_chr AS DOUBLE) ELSE 0.0 END)*0.3
             + least(CASE WHEN n_tok>0 THEN n_stop*5.0/n_tok ELSE 0.0 END, 1.0)*0.3)*10000 + 0.5) AS BIGINT) AS quality_e4
           FROM qt),
         f AS (SELECT least(q.quality_e4 // 1000, 9) AS dec0,
             CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup
           FROM q LEFT JOIN cl USING (doc_id))
         SELECT CAST(dec0 AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dup) AS BIGINT) AS n_dups,
           CAST(sum(dup) * 10000 // count(*) AS BIGINT) AS dup_rate_e4
         FROM f GROUP BY dec0 ORDER BY decile""",
    // q150: q138's component CTEs + q17's exact quality expression; the
    // argmax and the size ride one window per cluster, ties to min id.
    "q150_best_of_cluster" ->
      raw"""WITH RECURSIVE ${DedupQueries.nearDupPairsCtes},
         p2 AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000),
         edges AS (SELECT a_id AS s, b_id AS d FROM p2
                   UNION ALL SELECT b_id, a_id FROM p2),
         reach(id, lab) AS (
           SELECT DISTINCT s AS id, s AS lab FROM edges
           UNION
           SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
           WHERE r.lab < e.d),
         cl AS (SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id),
         qt AS (SELECT doc_id, ${TextQueries.tokCountSql} AS n_tok,
             ${TextQueries.punctCountSql} AS n_punct,
             ${TextQueries.stopCountSql} AS n_stop, len(text) AS n_chr
           FROM documents),
         q AS (SELECT doc_id, CAST(floor((least(n_tok/100.0, 1.0)*0.4
             + (1.0 - CASE WHEN n_chr>0 THEN n_punct/CAST(n_chr AS DOUBLE) ELSE 0.0 END)*0.3
             + least(CASE WHEN n_tok>0 THEN n_stop*5.0/n_tok ELSE 0.0 END, 1.0)*0.3)*10000 + 0.5) AS BIGINT) AS quality_e4
           FROM qt),
         m AS (SELECT cl.cluster, cl.doc_id, q.quality_e4,
             row_number() OVER (PARTITION BY cl.cluster
               ORDER BY q.quality_e4 DESC, cl.doc_id) AS r,
             count(*) OVER (PARTITION BY cl.cluster) AS n
           FROM cl JOIN q USING (doc_id))
         SELECT cluster, doc_id AS keep_id, CAST(n AS BIGINT) AS n_dups,
           quality_e4
         FROM m WHERE r = 1 ORDER BY cluster""",
    // q180: q150's chain with the rank filter widened to a keep flag at
    // k=3 — one decision row per clustered doc
    "q180_cap_k_dedup" ->
      capKDedupSqlOver(DedupQueries.nearDupPairsCtes, "documents"),
    // q184: the identical chain over the mod-2 id-hash sample — the cap-k
    // composite's sf1.0-feasible oracle (q164's trick through the rank
    // window: the sampled pair graph is cluster-closed)
    "q184_sampled_cap_k" -> capKDedupSqlOver(sampledPairCtes, "smpl"),
    "q139_split_leakage" ->
      raw"""WITH ${DedupQueries.nearDupPairsCtes},
         p2 AS (SELECT a_id, b_id, jaccard_e4 FROM pairs WHERE jaccard_e4 >= 5000),
         sp AS (SELECT doc_id,
             CASE WHEN b < 9000 THEN 'train' WHEN b < 9500 THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT doc_id,
               CAST(('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
                 % 10000 AS b FROM documents))
         SELECT p2.a_id, p2.b_id, sa.split AS a_split, sb.split AS b_split,
           p2.jaccard_e4
         FROM p2 JOIN sp sa ON sa.doc_id = p2.a_id
           JOIN sp sb ON sb.doc_id = p2.b_id
         WHERE sa.split <> sb.split ORDER BY 1, 2""",
    "q140_cluster_splits" ->
      clusterSplitsSqlOver(DedupQueries.nearDupPairsCtes, "documents"),
    // q194: the identical chain over the mod-2 id-hash sample — the
    // CC+splits composite's sf1.0-feasible oracle (cluster labels, and
    // therefore split buckets, are self-contained on the sampled frame)
    "q194_sampled_cluster_splits" ->
      clusterSplitsSqlOver(sampledPairCtes, "smpl"),
    // q162: q42's gram/hash chain replicated per n over ONE tokenize CTE,
    // each point collapsed to (n_gram, n_flagged, n_matched). q177 serves
    // the identical curve from the multi-n gram store — same oracle.
    "q177_decontam_curve_store" -> q162Sql,
    "q162_decontam_curve" -> q162Sql)

  private lazy val q162Sql: String = {
      def point(n: Int): String = {
        val grams = raw"""CASE WHEN len(tks) >= $n
           THEN list_distinct([array_to_string(tks[i+1:i+$n],' ') for i in range(0, len(tks)-${n - 1})])
           ELSE [] END"""
        raw"""SELECT CAST($n AS BIGINT) AS n_gram,
           CAST(count(*) AS BIGINT) AS n_flagged,
           CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_matched FROM (
           SELECT cg.doc_id, count(*) AS cnt FROM
             (SELECT doc_id, unnest(ghs) AS gh FROM
               (SELECT doc_id, list_transform($grams,
                  x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS ghs FROM t)
              WHERE doc_id % 97 <> 0) cg
           JOIN (SELECT DISTINCT unnest(ghs) AS gh FROM
               (SELECT doc_id, list_transform($grams,
                  x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS ghs FROM t)
              WHERE doc_id % 97 = 0) eg USING (gh)
           GROUP BY 1)"""
      }
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents)
         ${point(3)} UNION ALL ${point(4)} UNION ALL ${point(6)}
         ORDER BY n_gram"""
  }

  private val oraclesTail: Map[String, String] = Map(
    "q42_decontaminate" -> q42Sql,
    "q188_decontam_trim" -> q188Sql,
    // store-served + batch-split trim must equal the one-shot span answer
    // EXACTLY — pinned by q188's own oracle (the q169/q128 pattern)
    "q191_trim_store" -> q188Sql,
    "q189_trim_policy_audit" -> q189Sql,
    // the store-served + streamed-batch path must equal the one-shot check
    // EXACTLY — strongest pin is q42's own oracle (the q128-pattern)
    "q169_decontam_store" -> q42Sql,
    "q196_decontam_retire" -> q196Sql,
    // q176: the full q20 pair chain restricted to cross-snapshot pairs
    // (incremental ≡ full-restricted is q99's pinned equivalence), plus
    // the q19 canonical-fingerprint sets on each side
    "q176_corpus_diff" ->
      raw"""WITH ${DedupQueries.nearDupPairsCtes},
         cp AS (SELECT a_id, b_id FROM pairs WHERE jaccard_e4 >= 5000
           AND ((a_id // 20) % 2) <> ((b_id // 20) % 2)),
         bn AS (SELECT DISTINCT CASE WHEN (a_id // 20) % 2 = 1 THEN a_id
             ELSE b_id END AS doc_id FROM cp),
         f AS (SELECT doc_id, source, (doc_id // 20) % 2 AS snap,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM documents),
         fpa AS (SELECT DISTINCT fp FROM f WHERE snap = 0),
         fpb AS (SELECT DISTINCT fp FROM f WHERE snap = 1),
         bcls AS (SELECT b.source,
             CASE WHEN fpa.fp IS NOT NULL THEN 'unchanged'
                  WHEN bn.doc_id IS NOT NULL THEN 'minor_edit'
                  ELSE 'new' END AS cls
           FROM f b LEFT JOIN fpa ON fpa.fp = b.fp
           LEFT JOIN bn ON bn.doc_id = b.doc_id
           WHERE b.snap = 1),
         bagg AS (SELECT source,
             CAST(sum(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             CAST(sum(CASE WHEN cls = 'minor_edit' THEN 1 ELSE 0 END) AS BIGINT) AS n_minor_edit,
             CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
           FROM bcls GROUP BY 1),
         rem AS (SELECT a.source, CAST(count(*) AS BIGINT) AS n_removed
           FROM f a LEFT JOIN fpb ON fpb.fp = a.fp
           WHERE a.snap = 0 AND fpb.fp IS NULL GROUP BY 1)
         SELECT coalesce(bagg.source, rem.source) AS source,
           CAST(coalesce(n_unchanged, 0) AS BIGINT) AS n_unchanged,
           CAST(coalesce(n_minor_edit, 0) AS BIGINT) AS n_minor_edit,
           CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
           CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed
         FROM bagg FULL OUTER JOIN rem ON bagg.source = rem.source
         ORDER BY 1""",
    // q179: the naive GLOBAL cumsum over recursive-CTE soft-dedup weights
    // — the engine's bucket-decomposed windows must hash-match it exactly
    "q179_dedup_budget_select" ->
      dedupBudgetSqlOver(DedupQueries.nearDupPairsCtes, "documents"),
    // q183: the identical derivation over the mod-2 id-hash sample — the
    // budget-select composite's sf1.0-feasible oracle (cluster-closed
    // sample, so weights and the half-mass budget are sample-pure)
    "q183_sampled_dedup_budget" -> dedupBudgetSqlOver(sampledPairCtes, "smpl"),
    // q185: q42's gram/store chain joined back to the source dimension —
    // left join keeps clean docs so the denominator is the whole source
    "q185_source_leak_matrix" ->
      raw"""WITH t AS (SELECT doc_id, source, $tksSql AS tks FROM documents),
         g AS (SELECT doc_id, source, list_transform($gramsSql,
             x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS ghs FROM t),
         eg AS (SELECT DISTINCT unnest(ghs) AS gh FROM g WHERE doc_id % 97 = 0),
         cg AS (SELECT doc_id, unnest(ghs) AS gh FROM g WHERE doc_id % 97 <> 0),
         v AS (SELECT cg.doc_id, count(*) AS n_eval_grams
           FROM cg JOIN eg USING (gh) GROUP BY 1),
         j AS (SELECT d.source, v.n_eval_grams
           FROM (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0) d
           LEFT JOIN v USING (doc_id))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_eval_grams IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(coalesce(sum(n_eval_grams), 0) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN n_eval_grams IS NOT NULL THEN 1 ELSE 0 END) * 10000
             // count(*) AS BIGINT) AS leak_rate_e4
         FROM j GROUP BY 1 ORDER BY 1""",
    // q187: token explode, per-batch occurrence counts, first-arrival min
    // per type, running type total
    "q187_vocab_growth" ->
      raw"""WITH t AS (SELECT doc_id, doc_id // 100 AS batch, $tksSql AS tks
             FROM documents),
         occ AS (SELECT batch, doc_id, unnest(tks) AS tok FROM t),
         pb AS (SELECT batch, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_tokens FROM occ GROUP BY 1),
         fs AS (SELECT batch, CAST(count(*) AS BIGINT) AS new_types FROM
             (SELECT tok, min(batch) AS batch FROM occ GROUP BY 1) GROUP BY 1)
         SELECT pb.batch, n_docs, n_tokens,
           CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY pb.batch
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
         FROM pb LEFT JOIN fs USING (batch) ORDER BY pb.batch""",
    "q170_decontam_attribution" ->
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
         g AS (SELECT doc_id, list_transform($gramsSql,
             x -> CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)) AS ghs FROM t),
         eg AS (SELECT doc_id AS e_id, unnest(ghs) AS gh FROM g WHERE doc_id % 97 = 0),
         cg AS (SELECT doc_id, unnest(ghs) AS gh FROM g WHERE doc_id % 97 <> 0)
         SELECT e_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_corpus_docs,
           CAST(count(*) AS BIGINT) AS n_shared_grams
         FROM cg JOIN eg USING (gh) GROUP BY 1 ORDER BY 1""",
    "q43_gopher_stats" ->
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
         s AS (SELECT doc_id, CAST(len(tks) AS BIGINT) AS n_tokens,
           CASE WHEN len(tks) > 0 THEN CAST(floor(
             CAST(len(tks)-len(list_distinct(tks)) AS DOUBLE)/CAST(len(tks) AS DOUBLE)*10000 + 0.5) AS BIGINT)
             ELSE 0 END AS dup_frac_e4,
           CASE WHEN len(tks) > 0 THEN CAST(floor(
             CAST(list_max(list_transform(list_distinct(tks), t -> len(list_filter(tks, x -> x = t)))) AS DOUBLE)
             /CAST(len(tks) AS DOUBLE)*10000 + 0.5) AS BIGINT)
             ELSE 0 END AS top_frac_e4,
           CASE WHEN len(tks) > 0 THEN CAST(floor(
             CAST(list_sum(list_transform(tks, x -> len(x))) AS DOUBLE)/CAST(len(tks) AS DOUBLE)*10000 + 0.5) AS BIGINT)
             ELSE 0 END AS mean_len_e4
           FROM t)
         SELECT doc_id, n_tokens, dup_frac_e4, top_frac_e4, mean_len_e4,
           (n_tokens >= 30 AND dup_frac_e4 <= 6000 AND top_frac_e4 <= 1200
            AND mean_len_e4 BETWEEN 40000 AND 50000) AS gopher_pass
         FROM s ORDER BY doc_id""",
    "q44_bm25_topk" ->
      raw"""WITH t AS (SELECT doc_id, $tksSql AS tks FROM documents),
         d AS (SELECT doc_id, CAST(len(tks) AS DOUBLE) AS dl,
             CAST(len(list_filter(tks, x -> x = 'dup')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(tks, x -> x = 'table')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(tks, x -> x = 'join')) AS DOUBLE) AS tf2
           FROM t),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) AS sum_dl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM d)
         SELECT doc_id, CAST(floor((
             ((n_docs - df0 + 0.5)/(df0 + 0.5))*(tf0*2.2)/(tf0 + 1.2*(0.25 + 0.75*(CASE WHEN sum_dl > 0 THEN dl/(sum_dl/n_docs) ELSE 0 END)))
           + ((n_docs - df1 + 0.5)/(df1 + 0.5))*(tf1*2.2)/(tf1 + 1.2*(0.25 + 0.75*(CASE WHEN sum_dl > 0 THEN dl/(sum_dl/n_docs) ELSE 0 END)))
           + ((n_docs - df2 + 0.5)/(df2 + 0.5))*(tf2*2.2)/(tf2 + 1.2*(0.25 + 0.75*(CASE WHEN sum_dl > 0 THEN dl/(sum_dl/n_docs) ELSE 0 END)))
           )*10000 + 0.5) AS BIGINT) AS bm25_e4
         FROM d, s ORDER BY bm25_e4 DESC, doc_id LIMIT 20""",
    "q45_stratified_sample" ->
      raw"""WITH r AS (SELECT lang, doc_id,
           CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 WHEN 'fr' THEN 2500
             WHEN 'es' THEN 1000 WHEN 'zh' THEN 1000 ELSE 500 END AS rate_e4,
           CAST(('0x'||substr(md5('samp:'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10000 AS bucket
           FROM documents)
         SELECT lang, CAST(rate_e4 AS INT) AS rate_e4, count(*) AS n_docs,
           CAST(sum(CASE WHEN bucket < rate_e4 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         FROM r GROUP BY 1, 2 ORDER BY 1""",
    "q46_pii_redact" ->
      raw"""WITH t AS (SELECT doc_id, text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
           || CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
           AS dirty FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(dirty, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(dirty, '\+1-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(dirty,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+1-\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM t ORDER BY doc_id""")

  val oracles: Map[String, String] = oraclesHead ++ oraclesTail
}
