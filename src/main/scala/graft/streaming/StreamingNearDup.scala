package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Warehouse
import graft.operators.{Dedup, PairCensus}

/** Streaming near-duplicate ingest into a persistent signature store —
  * the MinHash analog of the streaming ANN/theta ingests: document
  * batches arrive (file stream → `foreachBatch(ingestBatch)`), each
  * batch signs ONCE, verifies against the STORED signatures of
  * everything before it, and lands (new verified pairs appended, the
  * signature table advanced). Per-batch cost is O(batch) — history is
  * read as signatures, never re-signed from text, the
  * `nearDupPairsIncremental` contract.
  *
  * Exactness invariant (StreamingNearDupSpec anchors it to the
  * oracle-pinned q20): after streaming a corpus in ANY batch split, the
  * accumulated pairs table is row-identical to the one-shot
  * `nearDupPairs` over the whole corpus — batch-1-self pairs plus each
  * later batch's incremental pairs partition the full pair set, because
  * a pair's earliest-complete batch is unique.
  *
  * Tables: `<name>_signatures` (idCol, sz, shs, mh_*) — overwritten per
  * batch with the combined frame (versioned Warehouse write: the new
  * version lands while the prior one is still being read, so
  * self-overwrite is safe); `<name>_pairs` (a_id, b_id, jaccard_e4) —
  * append-only.
  *
  * At-least-once caveat: unlike the KMV sketch store (idempotent merge),
  * replaying a DOCUMENT batch would re-append its pairs — drive this
  * from an exactly-once source (a checkpointed file stream, as the spec
  * does) or dedup the pairs table downstream. */
object StreamingNearDup {

  private def sigTable(name: String) = s"${name}_signatures"
  private def pairsTable(name: String) = s"${name}_pairs"
  private def labelsTable(name: String) = s"${name}_labels"

  private def emptyPairs(batch: DataFrame): DataFrame =
    batch.sparkSession.range(0)
      .select(col("id").as("a_id"), col("id").as("b_id"),
        col("id").as("jaccard_e4"))

  /** Absorb one arriving batch. First batch: self-dedup + seed the store.
    * Later batches: incremental verify vs stored signatures. Empty
    * batches are no-ops (AvailableNow reruns deliver them). Returns THIS
    * batch's new verified pairs (already materialized — checkpointed by
    * the pair stage and written to the store) so callers can fold
    * downstream stores without re-reading the pairs table. */
  def ingestBatch(wh: Warehouse, schema: String, name: String, batch: DataFrame,
                  idCol: String, textCol: String,
                  k: Int = 16, b: Int = 4, shingleN: Int = 5,
                  minJaccard: Double = 0.5,
                  candidatePairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    if (batch.isEmpty) return emptyPairs(batch)
    if (!wh.exists(schema, sigTable(name))) {
      import org.apache.spark.storage.StorageLevel
      val sig = Dedup.signDocuments(batch, idCol, textCol, k, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val pairs = Dedup.nearDupPairsFromSignatures(sig, idCol, k, b,
          minJaccard, candidatePairBudget = candidatePairBudget)
        wh.overwrite(schema, pairsTable(name), pairs)
        wh.overwrite(schema, sigTable(name), sig)
        pairs
      } finally sig.unpersist()
    } else {
      import org.apache.spark.storage.StorageLevel
      val prior = wh.read(schema, sigTable(name))
      // cache ownership stays here: sign + persist the batch, run the
      // incremental verify from signatures, write, release
      val newSig = Dedup.signDocuments(batch, idCol, textCol, k, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (pairs, combined) = Dedup.nearDupPairsIncrementalFromSignatures(
          newSig, prior, idCol, k, b, minJaccard,
          candidatePairBudget = candidatePairBudget)
        wh.append(schema, pairsTable(name), pairs)
        // versioned overwrite: the combined frame reads the prior version's
        // files while the new version dir is written, then the pointer flips
        wh.overwrite(schema, sigTable(name), combined)
        pairs
      } finally newSig.unpersist()
    }
  }

  /** [[ingestBatch]] plus cluster-label maintenance: the batch's new
    * pairs fold into the stored labels via
    * [[graft.operators.Clusters.dedupClustersIncremental]] (stored
    * components enter as star edges — history pair sets are never
    * re-read), so after ANY batch split the labels table is
    * row-identical to clustering the full accumulated pair set
    * (q41's contract; StreamingNearDupSpec anchors it). The complete
    * streaming dedup serving path: signatures, pairs, AND canonical
    * labels all maintained at O(batch + affected components) per
    * micro-batch. */
  def ingestBatchWithLabels(wh: Warehouse, schema: String, name: String,
                            batch: DataFrame, idCol: String, textCol: String,
                            k: Int = 16, b: Int = 4, shingleN: Int = 5,
                            minJaccard: Double = 0.5,
                            candidatePairBudget: Long = PairCensus.DefaultBudget): Unit = {
    val newPairs = ingestBatch(wh, schema, name, batch, idCol, textCol,
      k, b, shingleN, minJaccard, candidatePairBudget)
    if (newPairs.isEmpty) return
    val labels =
      if (wh.exists(schema, labelsTable(name)))
        graft.operators.Clusters.dedupClustersIncremental(
          wh.read(schema, labelsTable(name)), newPairs)
      else graft.operators.Clusters.dedupClusters(newPairs)
    wh.overwrite(schema, labelsTable(name), labels)
  }

  /** The accumulated verified pairs (a_id < b_id). */
  def pairs(wh: Warehouse, schema: String, name: String): DataFrame =
    wh.read(schema, pairsTable(name))
      .select(col("a_id"), col("b_id"), col("jaccard_e4"))

  /** The maintained cluster labels (cluster, doc_id, is_canonical). */
  def labels(wh: Warehouse, schema: String, name: String): DataFrame =
    wh.read(schema, labelsTable(name))
      .select(col("cluster"), col("doc_id"), col("is_canonical"))
}
