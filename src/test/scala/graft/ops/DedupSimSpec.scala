package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, PairBudgetExceeded, PairCensus, Similarity}

/** Unit semantics for dedup + similarity operators on hand-built data —
  * the invariants the fixtures can't pin (exact survivors, known near-dups,
  * recall of the LSH paths vs brute force). */
class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  /** The integers a refusal message names, in order. */
  private def ints(e: PairBudgetExceeded): Seq[Long] =
    "\\d+".r.findAllIn(e.getMessage).map(_.toLong).toSeq

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content with zero overlap whatsoever xyzzy"),
    (5L, "  The  QUICK brown fox jumps over the lazy dog ") // dup modulo case/ws
  ).toDF("doc_id", "text")

  test("exactDedup collapses canonical-identical docs, keeps min id") {
    val out = Dedup.exactDedup(docs, "doc_id", "text").collect()
    assert(out.length === 3) // {1,2,5}, {3}, {4}
    val big = out.find(_.getAs[Long]("n_copies") === 3L).get
    assert(big.getAs[Long]("keep_id") === 1L)
  }

  test("minhash signature is identical for identical docs, differs for unrelated") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(4L))
  }

  test("LSH → jaccard pipeline finds the near-dup pair and skips unrelated") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dups always collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup found
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated never paired
  }

  test("LSH bucket cap drops exactly the over-cap buckets' pairs, keeps the rest") {
    // 30 copies of one text form a giant bucket; one unrelated near-dup
    // pair must survive any cap ≥ 2
    val base = (1L to 30L).map(i => (i, "the big data table scans the data fast and well")) ++
      Seq((100L, "a small filter joins the keys on sorted rows today"),
        (101L, "a small filter joins the keys on sorted rows now"))
    val df = base.toDF("doc_id", "text")
    val uncapped = Dedup.nearDupPairs(df, "doc_id", "text", minJaccard = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val capped = Dedup.nearDupPairs(df, "doc_id", "text", minJaccard = 0.5,
      maxBucketSize = Some(8))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped))
    assert(uncapped.contains((100L, 101L)) && capped.contains((100L, 101L)))
    assert(uncapped.exists(p => p._1 <= 30 && p._2 <= 30)) // giant bucket paired uncapped
    assert(!capped.exists(p => p._1 <= 30 && p._2 <= 30)) // and fully dropped capped
  }

  test("banding S-curve (q154): bins replay exact jaccard × the public " +
    "candidate path; exact dup caught in the top bin; mod sampling subsets") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then naps"),
      (2L, "the quick brown fox jumps over the lazy dog and then naps"),
      (3L, "the quick brown fox jumps over the lazy cat and then naps"),
      (4L, "completely different content with zero overlap whatsoever xyzzy"),
      (5L, "sorted merge joins shuffle rows across worker partitions daily"),
      (6L, "vectorized parquet readers prune columns before the scan begins")
    ).toDF("doc_id", "text")
    val got = Dedup.bandingRecallCurve(base, "doc_id", "text",
      k = 16, b = 4, shingleN = 5, sampleMod = 1)
      .select($"bin", $"lo_e4", $"n_pairs", $"n_caught", $"catch_e4")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._3).sum === 15L) // all 6·5/2 sample pairs audited
    // replay from public components: exact jaccard (zero-overlap pairs are
    // absent → 0), candidacy from the production bands→candidates path
    val jac = Dedup.jaccardPairs(base, "doc_id", "text", shingleN = 5,
      minJaccard = 0.0)
      .select($"a_id", $"b_id", $"jaccard_e4").as[(Long, Long, Long)]
      .collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val caught = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignature(base, "doc_id", "text", k = 16),
        "doc_id", b = 4, r = 4), "doc_id")
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val exp = (for { a <- 1L to 6L; b <- 1L to 6L if a < b } yield {
      val j = jac.getOrElse((a, b), 0L)
      (math.min(j / 1000L, 9L), if (caught((a, b))) 1L else 0L)
    }).groupBy(_._1).map { case (bin, v) =>
      val c = v.map(_._2).sum
      (bin, bin * 1000L, v.size.toLong, c, c * 10000L / v.size)
    }.toSeq.sortBy(_._1)
    assert(got === exp)
    assert(jac((1L, 2L)) === 10000L && caught((1L, 2L))) // top bin, caught
    assert(got.last._1 === 9L && got.last._5 === 10000L)
    // the sampler is a real subset: mod 4 audits fewer pairs
    val n4 = Dedup.bandingRecallCurve(base, "doc_id", "text",
      k = 16, b = 4, shingleN = 5, sampleMod = 4)
      .agg(coalesce(sum($"n_pairs"), lit(0L))).as[Long].head()
    assert(n4 < 15L)
  }

  test("editSimilarityPairs: bounded DP ≡ driver Levenshtein replay over " +
    "capped candidates; char-noise dup found; unrelated never paired") {
    import spark.implicits._
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the misty morning " +
        "park while the sleepy cat watches from the old wooden fence nearby"),
      (2L, "the quick brown fox jumps ovre the lazy dog in the misty morning " +
        "park while the sleepy cat watches from the old wooden fence nearby"),
      (3L, "completely unrelated content about sorted merge join algorithms today"),
      (4L, "the quick brown fox jumps over the lazy dog in the misty morning " +
        "park while the sleepy cat watches from the old wooden fence nearby")
    ).toDF("doc_id", "text")
    val got = Dedup.editSimilarityPairs(base, "doc_id", "text",
      k = 16, b = 8, shingleN = 5, minSimE4 = 8000L)
      .as[(Long, Long, Long)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val texts = base.as[(Long, String)].collect().toMap
    val cand = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignature(base, "doc_id", "text", k = 16),
        "doc_id", b = 8, r = 2), "doc_id", maxBucketSize = Some(24))
      .as[(Long, Long)].collect()
    val exp = cand.map { case (a, b) =>
      val (ta, tb) = (texts(a), texts(b))
      val l = math.max(ta.length, tb.length).toLong
      (a, b, (l - lev(ta, tb)) * 10000L / l)
    }.filter(_._3 >= 8000L).toSet
    assert(got === exp)
    assert(got.exists(p => p._1 == 1L && p._2 == 2L)) // 3-char-noise dup kept
    assert(got.contains((1L, 4L, 10000L)))            // exact dup at 10000
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated absent
  }

  test("candidatePairsWithGate: the census pair count upper-bounds the " +
    "distinct candidate pairs (the DP-spread signal is never an undercount)") {
    import spark.implicits._
    // near-identical docs land in shared buckets across SEVERAL bands, so
    // distinct pairs < Σ-over-buckets n·(n−1)/2 — the bound must still hold
    val base = Seq.tabulate(8)(i =>
      (i.toLong + 1, "the quick brown fox jumps over the lazy dog in the " +
        s"misty morning park while cat number ${i % 2} watches the fence"))
      .toDF("doc_id", "text")
    val sig = Dedup.signDocuments(base, "doc_id", "text", k = 16, shingleN = 5)
    val stage = Dedup.candidatePairsWithGate(sig, "doc_id", 16, 8, Some(24), 0L)
    val n = stage.candidates.count()
    stage.bands.unpersist()
    assert(n > 0, "fixture must produce candidates")
    assert(stage.keptPairs >= n,
      s"census UB ${stage.keptPairs} must bound distinct candidates $n")
    // replay: bucket (members, Σ set sizes) from the public band frame
    val sz = sig.select($"doc_id", $"sz").as[(Long, Long)].collect().toMap
    val buckets = Dedup.lshBands(sig, "doc_id", b = 8, r = 2)
      .select($"band", $"band_hash", $"doc_id").as[(Int, String, Long)].collect()
      .groupBy(t => (t._1, t._2)).values
      .map(ms => (ms.length.toLong, ms.map(m => sz(m._3)).sum)).toSeq
    val kept = buckets.filter(b => b._1 >= 2 && b._1 <= 24)
    assert(stage.census.hottest === buckets.map(_._1).max)
    assert(stage.census.pairs === buckets.map(b => b._1 * (b._1 - 1) / 2).sum)
    assert(stage.keptPairs === kept.map(b => b._1 * (b._1 - 1) / 2).sum)
    assert(stage.keptBytes === kept.map(b => 8L * b._2 + 48L * b._1).sum)
    assert(stage.allBytes === 8L * sz.values.sum + 48L * sz.size)
  }

  test("containmentPairs: embedded quote scores near-full on the quote side, " +
    "shared counts agree with winnowingPairs, unrelated absent") {
    import spark.implicits._
    val quote = "the distributed query engine partitions every scan across " +
      "worker nodes and merges sorted runs into one deterministic output " +
      "stream for the caller to consume in order"
    val base = Seq(
      (1L, quote),
      (2L, "INTRO SECTION about completely other matters first here. " + quote +
        " TRAILING commentary that keeps going with unrelated filler text " +
        "about gardens and weather patterns and cooking recipes at length"),
      (3L, "nothing in common with the others: birds migrate south when " +
        "winter approaches and return in early spring to nest again")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(base, "doc_id", "text", minContainE4 = 5000L)
      .as[(Long, Long, Long, Long, Long)].collect()
    got.foreach { case (_, _, sh, ca, cb) =>
      assert(sh > 0 && ca > 0 && ca <= 10000 && cb > 0 && cb <= 10000)
    }
    val p12 = got.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.nonEmpty, "embedded quote must pair with its host")
    // quote side near-full containment (boundary windows only may differ);
    // host side strictly lower — it has many fingerprints the quote lacks
    assert(p12.get._4 >= 8000L, s"quote-side containment ${p12.get._4}")
    assert(p12.get._5 < p12.get._4)
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // shared counts agree with the symmetric winnowing surface
    val wp = Dedup.winnowingPairs(base, "doc_id", "text")
      .select($"a_id", $"b_id", $"shared").as[(Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (a, b, sh, _, _) => assert(wp((a, b)) === sh) }
  }

  test("LSH candidate budget refuses an over-budget corpus, naming maxBucketSize") {
    // 30 identical docs → one 30-member bucket per band → 4·30·29/2 = 1740
    // band pairs; a 100-pair budget must refuse BEFORE the pair join runs
    val df = (1L to 30L)
      .map(i => (i, "the big data table scans the data fast and well"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[PairBudgetExceeded](
      Dedup.nearDupPairs(df, "doc_id", "text", minJaccard = 0.5,
        candidatePairBudget = 100L))
    assert((e.operator, e.pairs, e.budget, e.hottest) ===
      (("lshCandidatePairs", 1740L, 100L, 30L)))
    assert(ints(e).take(3) === Seq(e.pairs, e.budget, e.hottest), e.getMessage)
    assert(e.getMessage.contains("maxBucketSize"), e.getMessage)
    assert(e.getMessage.contains("candidatePairBudget"), e.getMessage)
    // the refusal releases its caches (nearDupPairs discipline holds on
    // the failure path too)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"refusal leaked ${added.size} cached RDDs")
    // the named fix works: capped call proceeds on the same corpus/budget
    val capped = Dedup.nearDupPairs(df, "doc_id", "text", minJaccard = 0.5,
      maxBucketSize = Some(8), candidatePairBudget = 100L)
    assert(capped.count() === 0L) // the only bucket is over-cap boilerplate
    // and the explicit uncapped-exact opt-in still runs the full stage
    val uncapped = Dedup.nearDupPairs(df, "doc_id", "text", minJaccard = 0.5,
      candidatePairBudget = 0L)
    assert(uncapped.count() === 30L * 29L / 2L)
  }

  test("incremental cross-batch budget refuses when the stored corpus has a degenerate bucket") {
    val boiler = (1L to 40L)
      .map(i => (i * 2, "the big data table scans the data fast and well"))
    val prior = Dedup.signDocuments(boiler.toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq((101L, "the big data table scans the data fast and well"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[PairBudgetExceeded](
      Dedup.nearDupPairsIncremental(batch, "doc_id", "text", prior,
        candidatePairBudget = 10L))
    // 4 bands × 1 batch member × 40 prior members; the batch's largest
    // bucket holds its one doc
    assert((e.operator, e.pairs, e.budget, e.hottest) ===
      (("nearDupPairsIncremental", 160L, 10L, 1L)))
    assert(ints(e).take(2) === Seq(e.pairs, e.budget), e.getMessage)
    assert(e.getMessage.contains("new×prior"), e.getMessage)
    assert(e.getMessage.contains("candidatePairBudget"), e.getMessage)
    // the failure path must release the new-batch signature cache
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"refusal leaked ${added.size} cached RDDs")
    // a boilerplate BATCH against an unrelated prior: 4·12·11/2 = 264
    // new×new pairs refuse with the LSH census's own refusal
    val clean = Dedup.signDocuments(
      Seq((1L, "vectorized parquet readers prune columns before the scan begins"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val boilerBatch = (1L to 12L)
      .map(i => (100L + i, "the big data table scans the data fast and well"))
      .toDF("doc_id", "text")
    val eNew = intercept[PairBudgetExceeded](
      Dedup.nearDupPairsIncremental(boilerBatch, "doc_id", "text", clean,
        candidatePairBudget = 100L))
    assert((eNew.operator, eNew.pairs, eNew.budget, eNew.hottest) ===
      (("lshCandidatePairs", 264L, 100L, 12L)))
    assert(ints(eNew).take(3) === Seq(eNew.pairs, eNew.budget, eNew.hottest),
      eNew.getMessage)
    val addedNew = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(addedNew.isEmpty, s"refusal leaked ${addedNew.size} cached RDDs")
  }

  test("jaccard verify size gate: broadcast under budget, shuffle join above") {
    // hand-built hashed shingle sets: (1,2) near-identical, (3,4) disjoint
    val sets = Seq(
      (1L, Array(10L, 11L, 12L, 13L), 4L),
      (2L, Array(10L, 11L, 12L, 14L), 4L),
      (3L, Array(20L, 21L), 2L),
      (4L, Array(30L, 31L), 2L)
    ).toDF("doc_id", "shs", "sz")
    val cands = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")

    val broad = Dedup.jaccardFromSets(sets, "doc_id", 0.5, cands,
      broadcastBudgetBytes = Long.MaxValue)
    assert(broad.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      "under-budget verify should broadcast the sets")

    val shuffled = Dedup.jaccardFromSets(sets, "doc_id", 0.5, cands,
      broadcastBudgetBytes = 0L)
    val shuffledPlan = shuffled.queryExecution.sparkPlan.toString
    assert(!shuffledPlan.contains("BroadcastExchange"),
      s"over-budget verify must not broadcast:\n$shuffledPlan")
    assert(shuffledPlan.contains("ShuffledHashJoin"),
      s"over-budget verify should shuffle-hash join:\n$shuffledPlan")

    // both strategies compute the same pairs
    val a = broad.orderBy("a_id", "b_id").collect().toSeq
    val b = shuffled.orderBy("a_id", "b_id").collect().toSeq
    assert(a === b)
    assert(a.map(r => (r.getLong(0), r.getLong(1))) === Seq((1L, 2L)))
  }

  test("incremental near-dup over two batches equals the full-corpus run") {
    val docs10k = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val batch1 = docs10k.filter(col("doc_id") % 2 === 0)
    val batch2 = docs10k.filter(col("doc_id") % 2 === 1)
    // full run over everything at once
    val full = Dedup.nearDupPairs(docs10k, "doc_id", "text", minJaccard = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // batch 1 lands: sign + self-dedup; batch 2 arrives: incremental
    val sig1 = Dedup.signDocuments(batch1, "doc_id", "text")
    val pairs1 = Dedup.nearDupPairs(batch1, "doc_id", "text", minJaccard = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs2df = Dedup.nearDupPairsIncremental(
      batch2, "doc_id", "text", sig1, minJaccard = 0.5)
    // the success path releases its caches too, the batch's signatures
    // included: at most the checkpointed pairs RDD stays
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"expected at most the checkpoint RDD, got ${added.size} new cached RDDs")
    val pairs2 = pairs2df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs1.union(pairs2) === full,
      s"missing=${full.diff(pairs1.union(pairs2))} extra=${pairs1.union(pairs2).diff(full)}")
  }

  test("nearDupPairs releases its caches before returning") {
    // delta-based: other suites sharing the session may hold their own
    // caches (getPersistentRDDs is session-global)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.nearDupPairs(docs, "doc_id", "text", minJaccard = 0.5).collect()
    // localCheckpoint retains exactly one RDD (the result); the persisted
    // signature/candidate intermediates must be gone
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"expected at most the checkpoint RDD, got ${added.size} new cached RDDs")
  }

  /** The stop-fingerprint cut the one-exchange window replaced: a
    * doc-frequency groupBy(fp) branch joined back onto the rows. */
  private def keptByJoin(fps: DataFrame, maxDocFreq: Long): DataFrame = {
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select(col("fp"))
    fps.join(keep, Seq("fp"))
  }

  private def winnowingByJoin(fps: DataFrame, minShared: Long, maxDocFreq: Long): DataFrame = {
    val scoped = keptByJoin(fps, maxDocFreq)
    scoped.select(col("fp"), col("doc_id").as("a_id"))
      .join(scoped.select(col("fp"), col("doc_id").as("b_id")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  private def containmentByJoin(fps: DataFrame, minShared: Long, maxDocFreq: Long,
                                minContainE4: Long): DataFrame = {
    val sizes = keptByJoin(fps, maxDocFreq).groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    winnowingByJoin(fps, minShared, maxDocFreq)
      .join(sizes.select(col("doc_id").as("a_id"), col("nf").as("nf_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("nf").as("nf_b")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("shared"),
        expr("shared * 10000L div nf_a").as("cont_a_e4"),
        expr("shared * 10000L div nf_b").as("cont_b_e4"))
      .filter(greatest(col("cont_a_e4"), col("cont_b_e4")) >= minContainE4)
  }

  private def rowBag(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("stop-fingerprint cut equals the groupBy + join formulation for winnowing and containment") {
    val maxDocFreq = 3L
    // fp 100: df == maxDocFreq (kept); fp 101: df == maxDocFreq + 1
    // (dropped); fp 102: a duplicated (id, fp) row; fp 103: one doc only
    val edges = Seq((1L, 100L), (2L, 100L), (3L, 100L),
      (1L, 101L), (2L, 101L), (3L, 101L), (4L, 101L),
      (1L, 102L), (1L, 102L), (2L, 102L),
      (5L, 103L))
    val edgeFps = edges.toDF("doc_id", "fp")
    assert(Dedup.winnowingPairsFromFingerprints(edgeFps, "doc_id", 1L, maxDocFreq)
      .as[(Long, Long, Long)].collect().sorted.toSeq === Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 1L)))
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val drawn = Seq.fill(120)((1L + rnd.nextInt(12), 200L + rnd.nextInt(25)))
      val fps = rnd.shuffle(drawn ++ edges).toDF("doc_id", "fp")
      for (minShared <- Seq(1L, 2L)) {
        val w = rowBag(Dedup.winnowingPairsFromFingerprints(fps, "doc_id", minShared, maxDocFreq))
        assert(w.nonEmpty)
        assert(w === rowBag(winnowingByJoin(fps, minShared, maxDocFreq)), s"seed $seed")
        for (minContainE4 <- Seq(0L, 5000L))
          assert(rowBag(Dedup.containmentPairsFromFingerprints(fps, "doc_id", minShared,
            maxDocFreq, minContainE4)) ===
            rowBag(containmentByJoin(fps, minShared, maxDocFreq, minContainE4)),
            s"seed $seed minShared $minShared minContainE4 $minContainE4")
      }
    }
  }

  /** Query stages of an executed adaptive plan whose own operators (not
    * those of the stages they read) evaluate an expression named `kernel`;
    * a reused exchange is a leaf, so a stage read twice counts once. */
  private def stagesEvaluating(df: DataFrame, kernel: String): Int = {
    def evaluates(p: SparkPlan): Boolean =
      p.expressions.exists(_.exists(_.prettyName == kernel)) || p.children.exists(evaluates)
    def roots(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: QueryStageExec => roots(s.plan)
      case _ => p +: p.collectLeaves().collect { case s: QueryStageExec => s }.flatMap(roots)
    }
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    roots(root).count(evaluates)
  }

  test("winnowingPairs and containmentPairs evaluate the winnow_mins kernel in one stage per call") {
    val corpus = docs.union(Seq(
      (6L, "PREFIX AAA the quick brown fox jumps over the extremely lazy dog again"),
      (7L, "other start the quick brown fox jumps over the extremely lazy dog again end")
    ).toDF("doc_id", "text"))
    val w = Dedup.winnowingPairs(corpus, "doc_id", "text", minShared = 1L, maxDocFreq = 3L)
    val c = Dedup.containmentPairs(corpus, "doc_id", "text", minShared = 1L, maxDocFreq = 3L,
      minContainE4 = 0L)
    for ((name, df) <- Seq("winnowingPairs" -> w, "containmentPairs" -> c)) {
      assert(df.collect().nonEmpty, name)
      assert(stagesEvaluating(df, "winnow_mins") === 1, s"$name:\n${df.queryExecution.executedPlan}")
    }
  }

  test("verify joins the candidates straight against every set when the census says all fit") {
    val sets = Seq(
      (1L, Array(10L, 11L, 12L, 13L), 4L),
      (2L, Array(10L, 11L, 12L, 14L), 4L),
      (3L, Array(20L, 21L), 2L),
      (4L, Array(30L, 31L), 2L),
      (5L, Array(40L, 41L), 2L)
    ).toDF("doc_id", "shs", "sz")
    val cands = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    def scoping(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case u: Union => u
      case j: Join if j.joinType == LeftSemi => j
    }
    val unscoped = Dedup.jaccardFromSets(sets, "doc_id", 0.5, cands, allSetsFit = true)
    assert(scoping(unscoped).isEmpty, unscoped.queryExecution.optimizedPlan.toString)
    assert(unscoped.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    val scoped = Dedup.jaccardFromSets(sets, "doc_id", 0.5, cands, smallHint = Some(true))
    assert(scoping(scoped).nonEmpty)
    val shuffled = Dedup.jaccardFromSets(sets, "doc_id", 0.5, cands, broadcastBudgetBytes = 0L)
    assert(scoping(shuffled).nonEmpty)
    val shuffledPlan = shuffled.queryExecution.sparkPlan.toString
    assert(shuffledPlan.contains("ShuffledHashJoin") && !shuffledPlan.contains("BroadcastExchange"),
      shuffledPlan)
    val want = rowBag(scoped)
    assert(want === Seq("1|2|6000"))
    assert(rowBag(unscoped) === want && rowBag(shuffled) === want)

    // through the census: the default budget fits every set (unscoped), a
    // budget of the scoped bound alone broadcasts the scoped sets, and a
    // zero budget shuffles them — the same verified pairs each way
    val rnd = new scala.util.Random(7)
    val corpus = docs.union(Seq.tabulate(20)(i =>
      (100L + i, Seq.fill(30)(s"w${rnd.nextInt(100000)}").mkString(" "))).toDF("doc_id", "text"))
    val sig = Dedup.signDocuments(corpus, "doc_id", "text").cache()
    try {
      val stage = Dedup.candidatePairsWithGate(sig, "doc_id", 16, 4, None, PairCensus.DefaultBudget)
      stage.bands.unpersist()
      assert(stage.keptBytes < stage.allBytes &&
        stage.allBytes <= Dedup.DefaultVerifyBroadcastBytes, stage.census.toString)
      def pairs(budget: Long) = Dedup.nearDupPairsFromSignatures(sig, "doc_id",
        verifyBroadcastBytes = budget).as[(Long, Long, Long)].collect().sorted.toSeq
      val ref = pairs(Dedup.DefaultVerifyBroadcastBytes)
      assert(ref.map(p => (p._1, p._2)).contains((1L, 2L)))
      assert(pairs(stage.keptBytes) === ref)
      assert(pairs(0L) === ref)
    } finally sig.unpersist()
  }

  test("simhash: identical docs hamming 0; banded pairs ⊆ hamming ≤ 3") {
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val byId = sim.as[(Long, Long)].collect().toMap
    assert(byId(1L) === byId(2L))
    val pairs = Dedup.simhashPairs(sim, "doc_id", maxHamming = 3).collect()
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
    assert(pairs.exists(r => r.getLong(0) === 1L && r.getLong(1) === 2L))
  }

  test("jaccard is exact: 8/10 shared shingles → 8/12") {
    // identical 5-gram sets except a tail difference; verify the ratio math
    val two = docs.filter($"doc_id".isin(1L, 3L))
    val j = Dedup.jaccardPairs(two, "doc_id", "text", shingleN = 5, minJaccard = 0.0)
      .select("jaccard_e4").as[Long].head()
    val sh1 = docs.filter($"doc_id" === 1L)
      .select(explode(TextFunctions.charShingles($"text", 5))).as[String].collect().toSet
    val sh3 = docs.filter($"doc_id" === 3L)
      .select(explode(TextFunctions.charShingles($"text", 5))).as[String].collect().toSet
    val expected = math.floor(
      sh1.intersect(sh3).size.toDouble / sh1.union(sh3).size * 10000 + 0.5).toLong
    assert(j === expected)
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // ~parallel to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))  // opposite of 0
  ).toDF("vec_id", "embedding")

  test("PQ: codebooks are m×k, codes are m per vector, ADC recalls exact neighbors") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val (m, k, dim, topK) = (4, 8, 64, 5)
    val cb = Similarity.pqCodebooks(emb, m, k, dim)
    assert(cb.count() === (m * k).toLong)
    assert(cb.select("sub").distinct().count() === m.toLong)
    val codes = Similarity.pqEncode(emb, cb, m, dim)
    assert(codes.count() === emb.count() * m)
    assert(codes.groupBy("vec_id").count().filter(col("count") =!= m).isEmpty)
    val pq = Similarity.pqTopK(q, emb, cb, topK, m, dim)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.size === 10 && pq.values.forall(_.size === topK))
    val exact = Similarity.bruteForceTopK(q, emb, topK)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = pq.map { case (qid, ns) =>
      ns.intersect(exact(qid)).size.toDouble / topK }.sum / pq.size
    info(f"PQ recall@$topK = $recall%.2f")
    // 0.22 on the current fixture; the bound guards against degenerate
    // codebooks (random ranking ~ topK/corpus ≈ 0.0025), with slack for
    // driver fixture regeneration between rounds
    assert(recall >= 0.12, f"ADC recall $recall%.2f collapsed — codebooks degenerate?")
  }

  test("rerankExact on a full shortlist reproduces bruteForceTopK exactly") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, emb, 5)
    // shortlist = every (q, candidate) pair → re-rank must equal exact
    val full = q.select(col("vec_id").as("q_id"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id")))
      .filter(col("q_id") =!= col("neighbor_id"))
    val rr = Similarity.rerankExact(q, emb, full, 5)
    assert(rr.orderBy("q_id", "rank").collect()
      === exact.orderBy("q_id", "rank").collect())
  }

  test("rerankExact never ranks outside its shortlist, improves PQ recall") {
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val (m, dim, topK) = (4, 64, 5)
    val cb = Similarity.pqCodebooks(emb, m, 8, dim)
    val shortlist = Similarity.pqTopK(q, emb, cb, 20, m, dim)
    val rr = Similarity.rerankExact(q, emb, shortlist, topK)
    val slSet = shortlist.select("q_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    assert(rr.select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .forall(slSet.contains))
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.bruteForceTopK(q, emb, topK)
        .select("q_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = df.select("q_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      got.map { case (k, ns) => ns.intersect(exact(k)).size.toDouble / topK }
        .sum / got.size
    }
    val adc = recallOf(Similarity.pqTopK(q, emb, cb, topK, m, dim))
    val reranked = recallOf(rr)
    info(f"recall@$topK: ADC $adc%.2f → reranked $reranked%.2f")
    assert(reranked >= adc,
      f"exact re-rank of a superset shortlist cannot lose recall ($adc%.2f → $reranked%.2f)")
  }

  test("knnDensity: kth in-list cosine, short-list fallback, singleton null, " +
    "budget refusal names the fix") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f), 0),
      (3L, Array(0.95f, 0.3f), 0),
      (4L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cent = Similarity.ivfCentroids(vecs, "label")
    val got = Similarity.knnDensity(vecs, cent, k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    // vec 4 is alone in its list: density undefined → null
    assert(got(4L) === ((1, 1L, None)))
    // driver replay of the quantized within-list cosines for list 0
    def q(a: Array[Float]): Array[Long] =
      a.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
    val m = Map(1L -> q(Array(1.0f, 0.0f)), 2L -> q(Array(0.99f, 0.1f)),
      3L -> q(Array(0.95f, 0.3f)))
    def cos(a: Array[Long], b: Array[Long]): Long = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      math.floor(d / (na * nb) * 10000 + 0.5).toLong
    }
    Seq(1L, 2L, 3L).foreach { id =>
      val ns = m.keys.filter(_ != id).toSeq
        .map(o => (cos(m(id), m(o)), o)).sortBy(t => (-t._1, t._2))
      // n_list = 3, k = 2 → the 2nd nearest (= the farthest of the two)
      assert(got(id) === ((0, 3L, Some(ns(1)._1))), s"vec $id")
    }
    // 3 within-list pairs exceed a budget of 2 → refuse, naming the knobs
    val e = intercept[PairBudgetExceeded] {
      Similarity.knnDensity(vecs, cent, k = 1, pairBudget = 2L)
    }
    assert((e.operator, e.pairs, e.budget, e.hottest) === (("knnDensity", 3L, 2L, 3L)))
    assert(ints(e).take(3) === Seq(e.pairs, e.budget, e.hottest), e.getMessage)
    assert(e.getMessage.contains("pairBudget") &&
      e.getMessage.contains("centroids"))
  }

  test("knnDensityAuto: auto ≡ manual at the derived nLists, and auto-k keeps " +
    "per-list pair work bounded where a fixed list count goes quadratic") {
    import spark.implicits._
    // deterministic synthetic corpus: 4-dim vectors spread by a hash mix
    def corpus(n: Int) = (0 until n).map { i =>
      def h(s: Int) = (((i * 2654435761L + s * 40503L) % 997L) - 498L) / 498.0f
      (i.toLong, Array(h(1), h(2), h(3), h(4)))
    }.toDF("vec_id", "embedding")
    val small = corpus(120)
    // auto ≡ manual: n=120, targetListSize=30 → derived nLists = 4
    val auto = Similarity.knnDensityAuto(small, targetListSize = 30L, iters = 2, k = 3)
      .orderBy("vec_id").collect().toSeq
    val manual = Similarity.knnDensity(small,
      Similarity.kmeansCentroids(small, k = 4, iters = 2), k = 3)
      .orderBy("vec_id").collect().toSeq
    assert(auto === manual, "auto must equal manual at the derived list count")
    // scale: 10× corpus. A caller frozen at 4 lists pays ~(n/4)² per list —
    // over a 100k pair budget at n=1200 — while auto-k derives 40 lists and
    // stays an order of magnitude under it (per-list work ~targetListSize²/2).
    val big = corpus(1200)
    val fixedK = intercept[PairBudgetExceeded] {
      Similarity.knnDensity(big,
        Similarity.kmeansCentroids(big, k = 4, iters = 2), k = 3,
        pairBudget = 100_000L)
    }
    assert(fixedK.budget === 100_000L && fixedK.pairs > fixedK.budget)
    assert(ints(fixedK).take(3) === Seq(fixedK.pairs, fixedK.budget, fixedK.hottest),
      fixedK.getMessage)
    assert(fixedK.getMessage.contains("pairBudget"))
    val scaled = Similarity.knnDensityAuto(big, targetListSize = 30L, iters = 2,
      k = 3, pairBudget = 100_000L)
    assert(scaled.count() === 1200L,
      "auto-k must serve the 10× corpus under the same pair budget")
  }

  test("semDedup: one keep per group, and it is the farthest-from-centroid member") {
    val emb = Tables(spark, sf, "embeddings")
    val out = Similarity.semDedup(emb, k = 8, iters = 2, tauE4 = 3500L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.nonEmpty, "fixture should contain semantic dup groups at tau=0.35")
    out.groupBy(_._1).foreach { case (cluster, members) =>
      assert(members.count(_._4) === 1, s"cluster $cluster keeps exactly one")
      val kept = members.find(_._4).get
      val maxDist = members.map(_._3).max
      assert(kept._3 === maxDist, s"cluster $cluster must keep the outlier")
      // tie-break: among max-dist members the lowest id wins
      assert(kept._2 === members.filter(_._3 === maxDist).map(_._2).min)
    }
  }

  test("semDedup pair budget refuses an under-clustered corpus, naming the fix") {
    val emb = Tables(spark, sf, "embeddings")
    // k=1 puts all 500 vectors in one cluster → ~125k pairs; a 1000-pair
    // budget must refuse before the quadratic join runs
    val e = intercept[PairBudgetExceeded](
      Similarity.semDedup(emb, k = 1, iters = 1, tauE4 = 3500L, pairBudget = 1000L))
    // one cluster holds every vector
    assert((e.operator, e.pairs, e.budget, e.hottest) ===
      (("semDedup", 500L * 499L / 2, 1000L, 500L)))
    assert(ints(e).take(4) === Seq(e.pairs, e.budget, 500L, 1L), e.getMessage)
    assert(e.getMessage.contains("pair budget"))
    assert(e.getMessage.contains("Raise k"))
    // the suggested k must actually land under the budget: uniform
    // clusters at kFix give ~n²/(2·kFix) pairs
    val kFix = "~(\\d+)".r.findFirstMatchIn(e.getMessage).get.group(1).toLong
    val n = 500L
    assert(n * n / (2.0 * kFix) <= 1000L,
      s"suggested k=$kFix still yields ~${n * n / (2 * kFix)} pairs over the 1000 budget")
  }

  test("semDedup pairBudget <= 0 opts out of the census: same result as an " +
    "unbounded budget") {
    val emb = Tables(spark, sf, "embeddings")
    def run(budget: Long) = Similarity.semDedup(emb, k = 8, iters = 2,
      tauE4 = 3500L, pairBudget = budget)
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sortBy(_._2)
    val unbounded = run(Long.MaxValue)
    assert(unbounded.nonEmpty)
    assert(run(0L) === unbounded)
  }

  test("semDedup on an empty corpus returns an empty frame, not an error") {
    val emb = Tables(spark, sf, "embeddings").filter(lit(false))
    assert(Similarity.semDedup(emb, k = 4, iters = 1, tauE4 = 3500L).count() === 0L)
  }

  test("semDedupAuto keeps per-cluster pair work bounded as the corpus grows") {
    val emb = Tables(spark, sf, "embeddings")
    // 10× the corpus by cloning with offset ids (embeddings unchanged —
    // cluster GEOMETRY is identical, only density grows)
    val big = (0 until 10).map(i => emb.select(
      (col("vec_id") + lit(i * 100000L)).as("vec_id"),
      col("embedding"), col("label"))).reduce(_ unionAll _)
    val target = 100L
    // auto-k on the 10× corpus: 5000 rows / 100 → k=50, so the candidate
    // pair count stays ~n·target/2 instead of growing quadratically; the
    // tight budget below (≈ 2 × n·target/2) proves it held
    val out = Similarity.semDedupAuto(big, targetClusterSize = target,
      iters = 1, tauE4 = 3500L, pairBudget = 500000L)
    assert(out.select("vec_id").distinct().count() > 0)
  }

  test("repeated spans: planted cross-doc boilerplate found, unique text not") {
    val boiler = "ALL RIGHTS RESERVED (C) 2024 EXAMPLE CORP" // 41 chars
    val docs = Seq(
      (1L, s"first document body text here. $boiler and a unique tail one."),
      (2L, s"totally different second doc. $boiler plus other words two."),
      (3L, "no shared content in this one at all, fully unique text body."))
      .toDF("doc_id", "text")
    val stats = Dedup.repeatedSpanStats(docs, "doc_id", "text", n = 20)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(stats.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(stats(0)._3 > 0 && stats(1)._3 > 0, "boilerplate docs must flag")
    assert(stats(2)._3 === 0L, "unique doc must not flag")
    // strip removes every char of the shared span and nothing survives of
    // it; the unique doc passes through byte-identical
    val cleaned = Dedup.stripRepeatedSpans(docs, "doc_id", "text", n = 20)
      .select(col("doc_id"), col("clean_text"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(!cleaned(0)._2.contains(boiler) && !cleaned(1)._2.contains(boiler))
    assert(cleaned(2)._2 === docs.filter(col("doc_id") === 3).select("text").as[String].head())
    // strip equals a driver-side replica: cut the union of [p, p+20)
    // intervals over the repeated positions
    val posMap = Dedup.repeatedGramPositions(docs, "doc_id", "text", n = 20)
      .as[(Long, Seq[Int])].collect().toMap
    val textMap = docs.as[(Long, String)].collect().toMap
    cleaned.foreach { case (id, got) =>
      val covered = posMap.getOrElse(id, Seq.empty)
        .flatMap(p => (p - 1) until (p - 1 + 20)).toSet // 0-based chars
      val want = textMap(id).zipWithIndex
        .collect { case (ch, i) if !covered(i) => ch }.mkString
      assert(got === want, s"doc $id strip mismatch")
    }
  }

  test("pcaProjection equals a driver-side exact replica of the integer power iteration") {
    val emb = Tables(spark, sf, "embeddings")
    val got = Similarity.pcaProjection(emb).as[(Long, Long)].collect()
      .sortBy(_._1).toSeq
    // exact replica: same quantization, floor-mean, covariance, 8
    // max-normalized iterations — any arithmetic drift in the
    // distributed path shows up as an exact mismatch here
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val q = rows.map { case (id, a) =>
      id -> a.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong) }
    val dims = q.head._2.length
    val mean = (0 until dims).map { d =>
      math.floor(q.map(_._2(d)).sum.toDouble / q.length + 0.5).toLong }
    val ce = q.map { case (id, a) =>
      id -> a.indices.map(d => a(d) - mean(d)).toArray }
    val cov = Array.ofDim[Long](dims, dims)
    for ((_, v) <- ce; i <- 0 until dims; j <- 0 until dims)
      cov(i)(j) += v(i) * v(j)
    var vv = Array.fill(dims)(1000L)
    for (_ <- 1 to 8) {
      val raw = (0 until dims).map(i =>
        (0 until dims).map(j => cov(i)(j) * vv(j)).sum).toArray
      val mx = math.max(raw.map(math.abs).max, 1L)
      vv = raw.map(r => math.floor(r.toDouble / mx * 1000 + 0.5).toLong)
    }
    val want = ce.map { case (id, v) =>
      (id, v.indices.map(d => v(d) * vv(d)).sum) }.toSeq
    assert(got === want)
  }

  test("rrfFuse: both-leg docs beat single-leg docs at equal ranks; ids stay in-universe") {
    val legA = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("q_id", "doc_id", "rank")
    val legB = Seq((0L, 10L, 2), (0L, 12L, 1)).toDF("q_id", "doc_id", "rank")
    val fused = graft.operators.Search.rrfFuse(legA, legB, "doc_id", 10)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(fused.map(_._2) === Seq(10L, 12L, 11L)) // 1/61+1/62 > 1/61 > 1/62
    assert(fused.map(_._3).distinct.size === 3)
  }

  test("centroidDrift: zero on identical snapshots, exact displacement, one-sided labels keep nulls") {
    import graft.operators.Similarity
    val snapA = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(3.0f, 0.0f), 0), // centroid (2000, 0)
      (3L, Seq(0.0f, 1.0f), 1),                           // centroid (0, 1000)
      (9L, Seq(5.0f, 5.0f), 7))                           // label 7 vanishes in B
      .toDF("vec_id", "embedding", "label")
    val snapB = Seq(
      (4L, Seq(2.0f, 1.0f), 0),                           // centroid (2000, 1000)
      (5L, Seq(0.0f, 1.0f), 1),                           // unchanged
      (6L, Seq(9.0f, 9.0f), 8))                           // label 8 appears in B
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(snapA, snapB, "label")
      .orderBy("label")
      .as[(Int, Option[Long], Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    val byLabel = got.map(r => r._1 -> r).toMap
    // label 0 moved (0, 1000): drift² = 1000² = 1e6
    assert(byLabel(0)._4 === Some(1000000L))
    assert(byLabel(0)._2 === Some(2L) && byLabel(0)._3 === Some(1L))
    // label 1 identical → drift 0
    assert(byLabel(1)._4 === Some(0L))
    // vanished label: B side null, drift null — surfaced, not dropped
    assert(byLabel(7)._3 === None && byLabel(7)._4 === None
      && byLabel(7)._5 === Some(2L * 5000L * 5000L))
    // appeared label: A side null
    assert(byLabel(8)._2 === None && byLabel(8)._4 === None)
    assert(got.map(_._1) === Seq(0, 1, 7, 8))
  }

  test("centroid outliers: the far vector flags, tight cluster members don't") {
    import graft.operators.Similarity
    // label 0: three vectors near (1,0) and one at (-40,-40) — the noise
    // point's dist² dwarfs the mean; label 1: two tight vectors, no outlier
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.1f, 0.1f), 0),
      (3L, Seq(0.9f, -0.1f), 0), (4L, Seq(-40.0f, -40.0f), 0),
      (10L, Seq(5.0f, 5.0f), 1), (11L, Seq(5.2f, 4.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(emb, factor = 2)
      .orderBy("vec_id").as[(Long, Int, Long, Boolean)].collect().toSeq
    assert(got.map(r => r._1 -> r._4).toMap ===
      Map(1L -> false, 2L -> false, 3L -> false, 4L -> true,
        10L -> false, 11L -> false))
    // dist² is exact integer algebra: |a−c|² = a·a + c·c − 2a·c
    val r1 = got.find(_._1 == 1L).get
    assert(r1._3 >= 0L)
  }

  test("ANN recall on clustered data: bucketing keeps true neighbors") {
    // three tight clusters around axis directions — the regime approximate
    // search exists for. (The random fixture embeddings have NO neighbor
    // structure: any bucketing method degrades toward random there, which
    // is a property of the data, not the operator.)
    val clustered = (0 until 60).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 3) = 1.0f
      base(3 + i % 3) = 0.02f * (i / 3) // small within-cluster spread
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val queries = clustered.filter(col("vec_id") < 6)
    def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = topSet(Similarity.bruteForceTopK(queries, clustered, 5,
      embCol = "embedding"))
    val planes = Similarity.hyperplanes(spark, 4, 8)
    val ann = topSet(Similarity.annTopK(queries, clustered, planes, 5))
    val cent = Similarity.kmeansCentroids(clustered, k = 3, iters = 3)
    val ivf = topSet(Similarity.ivfTopK(queries, clustered, cent, 5, probes = 1))
    val annRecall = ann.intersect(brute).size.toDouble / brute.size
    val ivfRecall = ivf.intersect(brute).size.toDouble / brute.size
    assert(annRecall >= 0.8, s"LSH recall@5 on clustered data: $annRecall")
    assert(ivfRecall >= 0.8, s"IVF recall@5 on clustered data: $ivfRecall")
  }

  test("bruteForceTopK ranks by cosine: parallel > orthogonal > opposite") {
    val out = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0L), vecs, 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out === Seq(1L, 2L, 3L))
  }

  test("annTopK returns a subset of brute-force candidates with same scores") {
    val planes = Similarity.hyperplanes(spark, 4, 4)
    val brute = Similarity.bruteForceTopK(vecs, vecs, 3)
      .select("q_id", "neighbor_id", "cos_e4").as[(Long, Long, Long)].collect().toMap2
    val ann = Similarity.annTopK(vecs, vecs, planes, 3)
      .select("q_id", "neighbor_id", "cos_e4").as[(Long, Long, Long)].collect()
    assert(ann.nonEmpty)
    ann.foreach { case (q, n, c) => assert(brute((q, n)) === c) }
  }

  implicit private class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] = rows.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("hyperplanes are deterministic across invocations") {
    val a = Similarity.hyperplanes(spark, 4, 8).collect().map(_.toString).sorted
    val b = Similarity.hyperplanes(spark, 4, 8).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("langId picks marker-matched language and zh on non-ascii") {
    val d = Seq("the cat and the hat is here", "der hund ist ein tier und",
      "le chat et les chiens est une", "你好世界").toDF("text")
    val got = d.select(TextFunctions.langId($"text")).as[String].collect()
    assert(got === Seq("en", "de", "fr", "zh"))
  }

  test("qualityScore is in [0,1] and favors natural text") {
    val d = Seq("the cat and the dog is in a house for it to rest",
      "!!! ### $$$ %%% ^^^").toDF("text")
    val s = d.select(TextFunctions.qualityScore($"text")).as[Double].collect()
    assert(s.forall(x => x >= 0.0 && x <= 1.0))
    assert(s(0) > s(1))
  }

  test("sq8 codes stay in [0,255] and hit the extremes at the bounds") {
    val emb = graft.core.Tables(spark, sf, "embeddings")
    val bounds = Similarity.sq8Bounds(emb)
    val codes = Similarity.sq8Encode(emb, bounds)
      .select(explode($"sq_codes").as("c"))
    val mm = codes.agg(min($"c"), max($"c")).as[(Long, Long)].head()
    assert(mm._1 == 0L && mm._2 == 255L,
      s"codes span $mm — per-dim min must encode 0, max must encode 255")
  }

  test("sq8 reconstruction-cosine ranking recalls most exact neighbors") {
    val emb = graft.core.Tables(spark, sf, "embeddings")
    val recall = Similarity.sq8Recall(emb.filter($"vec_id" < 10), emb, k = 5)
      .agg(avg($"recall_e4")).as[Double].head()
    assert(recall >= 8000.0, s"mean recall@5 = $recall (e4) — quantization too lossy")
  }

  test("winnowing guarantees shared fingerprints for long shared substrings") {
    val common = "the quick brown fox jumps over the extremely lazy dog again"
    val docs2 = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"other start text $common different ending here"),
      (3L, "totally unrelated content with nothing in common at all xyzzy")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs2, "doc_id", "text",
      minShared = 5L, maxDocFreq = 3L)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("boilerplate census: planted footer ranks first with exact counts " +
    "and its own text; unique content never appears") {
    val footer = "COPYRIGHT 2026 ACME CORPORATION ALL RIGHTS RESERVED" // 51 chars
    val corpus = Seq(
      (1L, s"unique article one body text here lorem ipsum $footer"),
      (2L, s"different second article content entirely $footer"),
      (3L, s"third piece of writing with other words $footer"),
      (4L, "totally unrelated standalone document with nothing shared qqq zzz")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateCensus(corpus, "doc_id", "text", n = 20, topN = 1000)
      .select($"ex_doc", $"ex_pos", $"n_docs", $"n_occ", $"span")
      .as[(Long, Long, Long, Long, String)].collect()
    // the shared suffix across docs 1–3 is " " + footer (each doc ends
    // with it, preceded by doc-unique text): every repeated 20-gram is a
    // window of it — 3 docs each, one occurrence per doc, exemplar in
    // doc 1 at the doc-1 offset
    assert(got.nonEmpty)
    val shared = " " + footer
    val start1 = corpus.where($"doc_id" === 1).select($"text")
      .as[String].head().indexOfSlice(shared) + 1 // 1-based
    got.foreach { case (exDoc, exPos, nDocs, nOcc, span) =>
      assert(exDoc === 1L && nDocs === 3L && nOcc === 3L)
      assert(shared.contains(span), s"span '$span' is not a footer slice")
      assert(exPos >= start1 && exPos <= start1 + shared.length - 20)
      assert(span.length === 20)
    }
    // exactly one group per shared-suffix 20-gram window
    assert(got.length === shared.length - 20 + 1)
    assert(!got.exists(_._5.contains("qqq")))
  }

  test("ivf recall curve: monotone in probes, exact at full probe width") {
    val emb = graft.core.Tables(spark, sf, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val cents = Similarity.ivfCentroids(emb, "label")
    val nLabels = cents.count().toInt
    val curve = Similarity.ivfRecallCurve(q, emb, cents, k = 5,
      probes = Seq(1, 2, nLabels))
      .select($"probes", $"n_queries", $"n_hits", $"recall_e4")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.map(_._2).forall(_ === 10L))
    // more probes never lose recall
    assert(curve.map(_._3).toSeq === curve.map(_._3).toSeq.sorted)
    // probing every list IS the exact ranking (same scores, same
    // tie-breaks), so recall@k must be perfect
    assert(curve.last._3 === 50L && curve.last._4 === 10000L)
  }

  test("label affinity (q144): every pair matches the Scala brute force, " +
    "bounds hold, all label pairs present") {
    val got = graft.queries.SimQueries.q144LabelAffinity(spark, sf)
      .select($"label_a", $"label_b", $"n_a", $"n_b", $"dot",
        $"norm_a_sq", $"norm_b_sq", $"aff_e4")
      .as[(Int, Int, Long, Long, Long, Long, Long, Long)].collect()
    // brute force: quantize ×1000, integer floor-mean centroid per label,
    // exact long dots, aff = sign(dot)·(dot²·10⁴ / (na²·nb²)) truncating
    val emb = graft.core.Tables(spark, sf, "embeddings")
      .select($"label", $"embedding").as[(Int, Seq[Float])].collect()
    val byLabel = emb.groupBy(_._1).map { case (l, rows) =>
      val qs = rows.map(_._2.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))
      val dim = qs.head.length
      val cent = (0 until dim).map(d =>
        math.floor(qs.map(_(d)).sum.toDouble / qs.size + 0.5).toLong)
      l -> (cent, qs.size.toLong)
    }
    def dot(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    val labels = byLabel.keys.toSeq.sorted
    val want = (for {
      a <- labels; b <- labels if a < b
      (ca, na) = byLabel(a); (cb, nb) = byLabel(b)
      d = dot(ca, cb); na2 = dot(ca, ca); nb2 = dot(cb, cb)
      aff = if (na2 > 0 && nb2 > 0)
        (if (d < 0) -1L else 1L) * (d * d * 10000L / (na2 * nb2)) else 0L
    } yield (a, b, na, nb, d, na2, nb2, aff)).toSet
    assert(got.length === labels.combinations(2).size)
    assert(got.toSet === want)
    assert(got.forall { case (_, _, _, _, _, _, _, aff) => math.abs(aff) <= 10000 })
  }
}
