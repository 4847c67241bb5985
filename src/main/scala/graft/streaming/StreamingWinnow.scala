package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.core.Warehouse
import graft.operators.Dedup

/** Streaming winnowing-fingerprint ingest into a persistent store — the
  * containment/plagiarism counterpart of the stored MinHash signatures
  * `Dedup.nearDupPairsIncremental` reads: document batches arrive (file stream → `foreachBatch
  * (ingestBatch)`), each batch's winnowing fingerprints are extracted
  * ONCE (the expensive row-local text stage) and appended; containment
  * queries are served from the accumulated store without ever re-reading
  * text. Before this store existed, every q161-style run re-fingerprinted
  * the whole corpus.
  *
  * Why the store holds RAW fingerprints and no pairs: unlike MinHash
  * pairs (where a pair's earliest-complete batch is unique, so per-batch
  * pair sets partition the final answer), the containment result is NOT
  * incrementally partitionable — the stop-fingerprint filter is a
  * corpus-level doc-frequency cut, and a fingerprint that was rare in
  * batch 1 can cross `maxDocFreq` in batch 3, retroactively muting rows
  * already stored. Fingerprints themselves are a pure per-doc function of
  * text, so THEY are the append-only layer; the df filter, pair
  * aggregate, and containment cuts run at query time over the union
  * ([[Dedup.containmentPairsFromFingerprints]]).
  *
  * Exactness invariant (StreamingWinnowSpec anchors it to the
  * oracle-pinned q161): after streaming a corpus in ANY batch split,
  * [[containmentPairs]] over the store is row-identical to the one-shot
  * [[Dedup.containmentPairs]] over the whole corpus.
  *
  * Scale shape: per-batch cost is O(batch text) — one repartitioned
  * explode, one append; the store is (id, fp) longs, hive-compact. Query
  * cost is the one-shot plan minus its dominant text scan. At-least-once
  * caveat: replaying a DOCUMENT batch would double its fingerprint rows
  * and inflate doc-frequencies — drive this from an exactly-once source
  * (a checkpointed file stream) or dedup (idCol, fp) downstream. */
object StreamingWinnow {

  private def fpTable(name: String) = s"${name}_fingerprints"

  /** Absorb one arriving batch: extract its winnowing fingerprints and
    * append. Empty batches are no-ops (AvailableNow reruns deliver them). */
  def ingestBatch(wh: Warehouse, schema: String, name: String, batch: DataFrame,
                  idCol: String, textCol: String,
                  n: Int = 5, w: Int = 4): Unit = {
    if (batch.isEmpty) return
    val fps = Dedup.winnowingFingerprintRows(batch, idCol, textCol, n, w)
    wh.append(schema, fpTable(name), fps)
  }

  /** The accumulated fingerprint rows (idCol, fp). */
  def fingerprints(wh: Warehouse, schema: String, name: String): DataFrame =
    wh.read(schema, fpTable(name))

  /** Directional containment pairs served from the store — identical
    * results to [[Dedup.containmentPairs]] over the same accumulated
    * corpus (q161's oracle pins the round-trip). */
  def containmentPairs(wh: Warehouse, schema: String, name: String,
                       idCol: String, minShared: Long = 10L,
                       maxDocFreq: Long = 30L,
                       minContainE4: Long = 5000L): DataFrame =
    Dedup.containmentPairsFromFingerprints(
      fingerprints(wh, schema, name), idCol, minShared, maxDocFreq, minContainE4)

  /** Symmetric winnowing pairs served from the store — identical results
    * to [[Dedup.winnowingPairs]] over the same accumulated corpus (q38's
    * oracle pins the round-trip): one store, both query surfaces. */
  def winnowingPairs(wh: Warehouse, schema: String, name: String,
                     idCol: String, minShared: Long = 10L,
                     maxDocFreq: Long = 30L): DataFrame =
    Dedup.winnowingPairsFromFingerprints(
      fingerprints(wh, schema, name), idCol, minShared, maxDocFreq)
}
