package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Warehouse

/** Persistent benchmark-fingerprint store for decontamination — the
  * lifecycle layer [[Decontaminate]] lacked (reference behavior:
  * AirFlow-ETL's recurring jobs re-derive every input every run;
  * dags/elt_pipeline.py re-reads all sources — here the benchmark side is
  * derived once and replayed from storage, the pattern every other graft
  * family already has: fingerprints → StreamingWinnow, sketches →
  * SketchStore).
  *
  * Why the EVAL side is the stored side: benchmarks are MB-scale and
  * nearly frozen; the corpus is the 100 TB side and keeps arriving. So
  * the store holds the benchmark word-n-gram hashes (registered once per
  * benchmark, appended when a NEW benchmark lands — registration never
  * re-reads old benchmarks), and every arriving corpus batch is checked
  * by ONE row-local gram explode + a broadcast join against the store.
  * Per-batch verdicts append; because a doc's verdict is a pure function
  * of (its text, the frozen gram set), batch verdicts PARTITION the
  * one-shot answer — streaming the corpus in any split yields
  * row-identical results to the one-shot [[Decontaminate.contaminated]]
  * (q169 pins this with q42's own oracle SQL; contrast StreamingWinnow,
  * where the corpus-level doc-frequency cut forces query-time work).
  *
  * Gram rows carry their n-gram size, so one store serves every n a
  * benchmark was registered at (the q162 aggressiveness curve replays
  * from the store without touching benchmark text).
  *
  * Registration is IDEMPOTENT at (benchId, n) granularity, enforced in
  * code (the SketchStore contract pattern, ThetaSketch's (k, salt)
  * check): re-registering an already-stored (benchId, n) is a no-op —
  * the benchmark text is not even scanned — so a retried DAG task can
  * never double gram rows or inflate [[attribution]] hit counts. */
object DecontamStore {

  private def gramsTable(name: String) = s"${name}_eval_grams"
  private def verdictsTable(name: String) = s"${name}_verdicts"

  /** Register one benchmark at n-gram size `n`: extract its distinct
    * per-doc gram hashes ONCE (the only time this benchmark's text is
    * read) and append them as (bench_id, n_gram, e_id, gh).
    *
    * Idempotent: when this (benchId, n) is already in the store the call
    * returns without reading the benchmark text — a registration retry
    * can never double gram rows (which would silently inflate
    * [[attribution]] hit counts). The existence probe is one
    * partition-pruned limit-1 read of the benchmark-scale gram table. */
  def registerBenchmark(wh: Warehouse, schema: String, name: String,
                        benchId: String, evalDocs: DataFrame,
                        idCol: String, textCol: String, n: Int): Unit = {
    val exists = wh.exists(schema, gramsTable(name))
    if (exists && !wh.read(schema, gramsTable(name))
        .filter(col("bench_id") === benchId && col("n_gram") === n.toLong)
        .isEmpty) return
    val gramHashes =
      org.apache.spark.sql.graft.MinHashExprs.hashedWordNgrams(col(textCol), n)
    val rows = evalDocs.select(
      lit(benchId).as("bench_id"), lit(n.toLong).as("n_gram"),
      col(idCol).as("e_id"), explode(gramHashes).as("gh"))
    if (exists) wh.append(schema, gramsTable(name), rows)
    else wh.overwrite(schema, gramsTable(name), rows)
  }

  /** The benchmark ids registered at each n-gram size. */
  def registered(wh: Warehouse, schema: String, name: String): DataFrame =
    wh.read(schema, gramsTable(name))
      .groupBy(col("bench_id"), col("n_gram"))
      .agg(countDistinct(col("e_id")).as("n_eval_docs"),
        count(lit(1)).as("n_grams"))

  /** The stored gram rows at size `n` — benchmark-scale by construction. */
  def evalGrams(wh: Warehouse, schema: String, name: String, n: Int): DataFrame =
    wh.read(schema, gramsTable(name)).filter(col("n_gram") === n.toLong)

  /** q42-identical contamination check served from the store: (idCol,
    * n_eval_grams) per corpus doc sharing ≥ 1 registered n-gram. The
    * corpus-side explode is the one heavy stage (row-local fan-out of
    * 8-byte gram hashes); the stored gram set broadcasts — one corpus
    * scan at any scale, benchmark text read zero times. */
  def contaminated(wh: Warehouse, schema: String, name: String,
                   corpus: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val gramHashes =
      org.apache.spark.sql.graft.MinHashExprs.hashedWordNgrams(col(textCol), n)
    val store = evalGrams(wh, schema, name, n).select(col("gh")).distinct()
    corpus
      .select(col(idCol), explode(gramHashes).as("gh"))
      .join(broadcast(store), "gh")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_eval_grams"))
  }

  /** Multi-n contamination served from the store in ONE corpus scan —
    * the aggressiveness-curve serve path (q177). Per-n calls to
    * [[contaminated]] each pay a full corpus scan; at any scale the scan
    * dominates, so the curve fuses: the corpus side explodes (n_gram, gh)
    * pairs for EVERY requested n at once (row-local concat of the per-n
    * hashed gram arrays), joins the broadcast multi-n gram store on the
    * composite key, and aggregates per (doc, n). Per-(idCol, n_gram)
    * output rows are identical to n separate [[contaminated]] calls —
    * the verdict multiset is the same join, keyed wider. */
  def contaminatedMultiN(wh: Warehouse, schema: String, name: String,
                         corpus: DataFrame, idCol: String, textCol: String,
                         ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty, "at least one n-gram size")
    // duplicated sizes would concat the corpus-side gram arrays twice while
    // the store side stays distinct — silently doubling n_eval_grams; error
    // loudly instead (the caller meant a SET of sizes)
    require(ns.distinct.size == ns.size,
      s"duplicate n-gram sizes in $ns would double-count corpus-side grams")
    val pairs = ns.map { n =>
      transform(
        org.apache.spark.sql.graft.MinHashExprs.hashedWordNgrams(col(textCol), n),
        g => struct(lit(n.toLong).as("n_gram"), g.as("gh")))
    }.reduce(concat(_, _))
    val store = wh.read(schema, gramsTable(name))
      .filter(col("n_gram").isin(ns.map(_.toLong): _*))
      .select(col("n_gram"), col("gh")).distinct()
    corpus
      .select(col(idCol), explode(pairs).as("p"))
      .select(col(idCol), col("p").getField("n_gram").as("n_gram"),
        col("p").getField("gh").as("gh"))
      .join(broadcast(store), Seq("n_gram", "gh"))
      .groupBy(col(idCol), col("n_gram"))
      .agg(count(lit(1)).as("n_eval_grams"))
  }

  /** Check one ARRIVING corpus batch and append its verdict DETAIL — the
    * streaming serve path (file stream → foreachBatch(checkBatch)).
    *
    * The verdict table accumulates (idCol, n_gram, gh, cnt) rows — one
    * per (doc, matched gram), cnt = that gram's occurrence count in the
    * doc — bounded by the actual leak volume, never corpus-scale. Each
    * row is a pure function of (the doc's text, ONE stored gram), which
    * buys two properties the old per-doc rollup rows could not have:
    *
    *   - **retirement is verdict-table-scale** ([[retireBenchmark]]): a
    *     detail row stays valid exactly while its gram stays in the
    *     store, so retiring a benchmark anti-filters the retired-only
    *     grams out of the detail instead of invalidating everything and
    *     re-feeding 100 TB;
    *   - **the append is IDEMPOTENT at (doc, n_gram, gh)**: new rows
    *     anti-join the accumulated keys before appending, so a retried
    *     DAG task re-feeding a batch appends nothing — the same
    *     at-least-once hardening [[registerBenchmark]] has (r12-verdict
    *     "What's missing #1": the re-feed cost cliff closed).
    *
    * The rolled-up answer is served by [[verdicts]]; its union over any
    * batch split equals the one-shot check because each detail row
    * depends only on the doc and the frozen store. Per-batch cost is
    * O(batch text) + one anti-join against the leak-scale accumulated
    * keys. Empty batches are no-ops. */
  def checkBatch(wh: Warehouse, schema: String, name: String,
                 batch: DataFrame, idCol: String, textCol: String,
                 n: Int): Unit = {
    if (batch.isEmpty) return
    val gramHashes =
      org.apache.spark.sql.graft.MinHashExprs.hashedWordNgrams(col(textCol), n)
    val store = evalGrams(wh, schema, name, n).select(col("gh")).distinct()
    val detail = batch
      .select(col(idCol), explode(gramHashes).as("gh"))
      .join(broadcast(store), "gh")
      .groupBy(col(idCol), col("gh")).agg(count(lit(1)).as("cnt"))
      .select(col(idCol), lit(n.toLong).as("n_gram"), col("gh"), col("cnt"))
    if (wh.exists(schema, verdictsTable(name)))
      wh.append(schema, verdictsTable(name),
        detail.join(wh.read(schema, verdictsTable(name))
            .select(col(idCol), col("n_gram"), col("gh")),
          Seq(idCol, "n_gram", "gh"), "left_anti"))
    else wh.overwrite(schema, verdictsTable(name), detail)
  }

  /** Span-level localization + trim served from the store — the TRIM
    * policy (Decontaminate.contaminatedSpans) over the persisted gram set
    * instead of benchmark text: one corpus scan, broadcast stored grams,
    * leak-bounded state. Same output contract as the one-shot operator
    * (pure per-doc function of (text, frozen gram set)), so batch splits
    * partition the answer exactly as [[checkBatch]] verdicts do. */
  def trimSpans(wh: Warehouse, schema: String, name: String,
                corpus: DataFrame, idCol: String, textCol: String,
                n: Int): DataFrame =
    Decontaminate.contaminatedSpansFromGrams(
      corpus, evalGrams(wh, schema, name, n).select(col("gh")),
      idCol, textCol, n)

  /** The accumulated contamination verdicts, rolled up to the serve shape
    * (doc id, n_eval_grams) — one row per contaminated doc, summed over
    * every matched gram at every checked size. Identical to the one-shot
    * [[contaminated]] over the batches fed so far: Σ_gh cnt is exactly
    * the occurrence count the one-shot join aggregates in one step. The
    * rollup runs over the leak-scale detail table, never the corpus. */
  def verdicts(wh: Warehouse, schema: String, name: String): DataFrame = {
    val detail = wh.read(schema, verdictsTable(name))
    // the id column is whatever the caller fed checkBatch — identified by
    // elimination, not position (using-column joins reorder columns)
    val id = detail.columns.filterNot(Set("n_gram", "gh", "cnt")).head
    detail.groupBy(col(id)).agg(sum(col("cnt")).as("n_eval_grams"))
  }

  /** The raw per-(doc, gram) verdict detail — the granularity
    * [[retireBenchmark]]'s surgical invalidation and [[checkBatch]]'s
    * idempotent append operate on. */
  def verdictDetail(wh: Warehouse, schema: String, name: String): DataFrame =
    wh.read(schema, verdictsTable(name))

  /** Retire one benchmark from the store — the lifecycle step
    * [[attribution]] exists to trigger: when an eval set is burned
    * (its items leaked widely enough that it stops measuring anything),
    * the store must stop flagging corpus docs for sharing ITS grams.
    *
    * A no-op when `benchId` has no gram rows (typo'd or already-retired
    * id): the gram set is unchanged, so the accumulated verdicts are all
    * still valid — nothing is rewritten. Otherwise drops every gram row
    * of `benchId` (all registered n sizes) via an anti-filter rewrite —
    * the gram table is benchmark-scale, so the rewrite is the cheap
    * side, and the new single version IS the compaction (the ANN
    * rebuild-and-swap pattern: readers atomically flip to the rewritten
    * version).
    *
    * Verdict invalidation is SURGICAL, not wholesale: a detail row
    * ([[checkBatch]]) is a pure function of (doc text, one stored gram),
    * so only rows whose gram leaves the store die — the retired-only
    * grams, i.e. `benchId`'s grams minus those shared with a surviving
    * benchmark. The anti-join runs over the leak-scale detail table and
    * the benchmark-scale removed-gram set; surviving benchmarks'
    * verdicts stay valid with NO corpus re-feed (the r12 cost cliff:
    * wholesale truncation forced a 100 TB re-feed per retirement).
    *
    * Crash ordering: verdicts rewrite FIRST, grams second. A crash
    * between them leaves `benchId`'s grams in the store with its
    * verdicts already gone — serving still flags for the not-yet-retired
    * benchmark (stale lifecycle, loud in [[registered]]), and re-running
    * the retire recomputes the same removed set from the intact gram
    * table and completes. The reverse order would strand detail rows of
    * retired-only grams forever: with the gram rows already gone, a
    * retry computes an empty removed set. Re-registering a retired
    * (benchId, n) later is a fresh registration: the idempotence probe
    * sees no rows, so the no-op short-circuit does not fire. */
  def retireBenchmark(wh: Warehouse, schema: String, name: String,
                      benchId: String): Unit = {
    if (!wh.exists(schema, gramsTable(name))) return
    val grams = wh.read(schema, gramsTable(name))
    if (grams.filter(col("bench_id") === benchId).isEmpty) return
    val removed = grams.filter(col("bench_id") === benchId)
      .select(col("n_gram"), col("gh")).distinct()
      .join(grams.filter(col("bench_id") =!= benchId)
          .select(col("n_gram"), col("gh")).distinct(),
        Seq("n_gram", "gh"), "left_anti")
    if (wh.exists(schema, verdictsTable(name))) {
      val detail = wh.read(schema, verdictsTable(name))
      wh.overwrite(schema, verdictsTable(name),
        detail.join(removed, Seq("n_gram", "gh"), "left_anti")
          // using-column joins pull the join keys to the front — restore
          // the stored layout so the schema is stable across retirements
          .select(detail.columns.map(col).toIndexedSeq: _*))
    }
    wh.overwrite(schema, gramsTable(name),
      grams.filter(col("bench_id") =!= benchId))
  }

  /** Leakage attribution BY EVAL DOC: for each registered benchmark item,
    * how many corpus docs share ≥ 1 of its n-grams and the total
    * (corpus doc, gram) hit count — the "which benchmark is burned"
    * report that decides retiring an eval set, not just cleaning the
    * corpus. Same single-corpus-scan shape as [[contaminated]]; the join
    * output is bounded by the actual leak volume and the rollup key is
    * benchmark-scale. */
  def attribution(wh: Warehouse, schema: String, name: String,
                  corpus: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    val gramHashes =
      org.apache.spark.sql.graft.MinHashExprs.hashedWordNgrams(col(textCol), n)
    val store = evalGrams(wh, schema, name, n).select(col("e_id"), col("gh"))
    corpus
      .select(col(idCol), explode(gramHashes).as("gh"))
      .join(broadcast(store), "gh")
      .groupBy(col("e_id"))
      .agg(countDistinct(col(idCol)).as("n_corpus_docs"),
        count(lit(1)).as("n_shared_grams"))
  }
}
