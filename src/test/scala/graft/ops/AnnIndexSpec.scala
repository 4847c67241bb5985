package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Tables, Warehouse}
import graft.operators.{AnnIndex, Similarity}

/** Persistent ANN index lifecycle: build/append/query over the Warehouse,
  * pinned against the ad-hoc IVF path. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshWh(): Warehouse =
    new Warehouse(spark, Files.createTempDirectory("graft_ann_").toString)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "neighbor_id", "cos_e4", "rank")
      .as[(Long, Long, Long, Int)].collect().sortBy(r => (r._1, r._4)).toSeq

  test("stored index answers exactly like the ad-hoc IVF path") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val cent = Similarity.ivfCentroids(emb, "label")
    val wh = freshWh()
    AnnIndex.build(wh, "ann", "emb", emb, cent)
    val stored = AnnIndex.topK(wh, "ann", "emb", queries, k = 5, probes = 2)
    val adHoc = Similarity.ivfTopK(queries, emb, cent, k = 5, probes = 2)
    assert(rows(stored) === rows(adHoc))
  }

  test("append-then-query equals rebuild-on-the-union (assignment is centroid-pure)") {
    val emb = Tables(spark, sf, "embeddings")
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id") < 5)
    val cent = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val incr = freshWh()
    AnnIndex.build(incr, "ann", "emb", first, cent)
    AnnIndex.append(incr, "ann", "emb", second)
    val full = freshWh()
    AnnIndex.build(full, "ann", "emb", emb, cent)
    assert(rows(AnnIndex.topK(incr, "ann", "emb", queries, k = 5)) ===
      rows(AnnIndex.topK(full, "ann", "emb", queries, k = 5)))
    // the appended half is actually served: at least one odd id surfaces
    val odd = AnnIndex.topK(incr, "ann", "emb", queries, k = 5)
      .filter(col("neighbor_id") % 2 === 1).count()
    assert(odd > 0, "appended vectors must be reachable from the stored lists")
  }

  test("PQ store: stored codes answer exactly like the ad-hoc ADC path") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (m, dim) = (4, 64)
    val cb = Similarity.pqCodebooks(emb, m, k = 8, dim = dim, iters = 2)
    val wh = freshWh()
    AnnIndex.buildPq(wh, "ann", "emb", emb, cb, m, dim)
    assert(rows(AnnIndex.topKPq(wh, "ann", "emb", queries, k = 5, m, dim)) ===
      rows(Similarity.pqTopK(queries, emb, cb, k = 5, m, dim)))
  }

  test("serving scan prunes to the probed label partitions") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val cent = Similarity.ivfCentroids(emb, "label")
    val wh = freshWh()
    AnnIndex.build(wh, "ann", "emb", emb, cent)
    val nLabels = cent.count()
    val probes = 2
    // how many lists the 5 queries actually probe
    val probed = Similarity.ivfAssign(queries, cent, probes)
      .select("label").distinct().count()
    assert(probed < nLabels, "fixture must leave some lists unprobed")
    val served = AnnIndex.topK(wh, "ann", "emb", queries, k = 5, probes = probes)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def listScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => listScans(a.executedPlan)
      case s: QueryStageExec => listScans(s.plan)
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("emb_lists")) =>
        Seq(f)
      case other => other.children.flatMap(listScans)
    }
    val scans = listScans(served.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a file scan over the lists table")
    val lists = scans.head
    assert(lists.partitionFilters.nonEmpty,
      "the probed labels must reach the scan as partition filters")
    assert(lists.selectedPartitions.partitionCount.toLong === probed,
      "the scan must list exactly the probed label directories")
  }

  // shared plan-walker: every FileSourceScanExec over a table whose root
  // path contains `frag`, through AQE wrappers
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  private def scansOf(p: SparkPlan, frag: String): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan, frag)
    case s: QueryStageExec => scansOf(s.plan, frag)
    case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
      Seq(f)
    case other => other.children.flatMap(scansOf(_, frag))
  }

  test("IVF+PQ store: stored composed codes answer exactly like ad-hoc ivfPqTopK") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (m, dim) = (4, 64)
    val coarse = Similarity.ivfCentroids(emb, "label")
    val cb = Similarity.pqCodebooks(emb, m, k = 8, dim = dim, iters = 2)
    val wh = freshWh()
    AnnIndex.buildIvfPq(wh, "ann", "emb", emb, coarse, cb, m, dim)
    assert(rows(AnnIndex.topKIvfPq(wh, "ann", "emb", queries, k = 5, probes = 2, m, dim)) ===
      rows(Similarity.ivfPqTopK(queries, emb, coarse, cb, k = 5, probes = 2, m, dim)))
  }

  test("IVF+PQ serving scan prunes to the probed coarse-list partitions") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val (m, dim, probes) = (4, 64, 2)
    val coarse = Similarity.ivfCentroids(emb, "label")
    val cb = Similarity.pqCodebooks(emb, m, k = 8, dim = dim, iters = 2)
    val wh = freshWh()
    AnnIndex.buildIvfPq(wh, "ann", "emb", emb, coarse, cb, m, dim)
    val probed = Similarity.ivfAssign(queries, coarse, probes)
      .select("label").distinct().count()
    assert(probed < coarse.count(), "fixture must leave some lists unprobed")
    val served = AnnIndex.topKIvfPq(wh, "ann", "emb", queries, k = 5, probes, m, dim)
    val scans = scansOf(served.queryExecution.executedPlan, "emb_ivfpq_codes")
    assert(scans.nonEmpty, "expected a file scan over the composed codes table")
    assert(scans.head.partitionFilters.nonEmpty,
      "the probed coarse lists must reach the scan as partition filters")
    assert(scans.head.selectedPartitions.partitionCount.toLong === probed,
      "the scan must list exactly the probed clist directories")
  }

  test("stats: counts track appends, shares sum to ~1, empty lists surface with n=0") {
    val emb = Tables(spark, sf, "embeddings")
    // plant a guaranteed-empty list: label 999 duplicates label 0's
    // centroid, and ivfAssign breaks cosine ties toward the LOWER label,
    // so 999 can never win an assignment
    val base = Similarity.ivfCentroids(emb, "label")
    val cent = base.unionByName(
      base.filter(col("label") === 0).select(lit(999).as("label"), col("ce")))
    val wh = freshWh()
    AnnIndex.build(wh, "ann", "emb", emb.filter(col("vec_id") % 2 === 0), cent)
    val half = AnnIndex.stats(wh, "ann", "emb")
      .select("label", "n_vectors").as[(Int, Long)].collect().toMap
    AnnIndex.append(wh, "ann", "emb", emb.filter(col("vec_id") % 2 === 1))
    val stats = AnnIndex.stats(wh, "ann", "emb")
      .select("label", "n_vectors", "share_e4", "skew_e4")
      .as[(Int, Long, Long, Long)].collect()
    val full = stats.map(r => r._1 -> r._2).toMap
    assert(full.values.sum === emb.count(), "every vector counted once after append")
    assert(full.values.sum > half.values.sum, "appends must grow the counts")
    assert(full(999) === 0L, "an empty list must report n=0, not vanish")
    val shareSum = stats.map(_._3).sum
    assert(math.abs(shareSum - 10000L) <= stats.length,
      s"shares must sum to ~1 (e4 rounding): $shareSum")
    // skew of the empty list is 0; a uniform list would be 10000
    assert(stats.find(_._1 == 999).get._4 === 0L)
  }

  test("IVF+SQ8 store: stored codes answer exactly like ad-hoc ivfSq8TopK") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val coarse = Similarity.ivfCentroids(emb, "label")
    val bounds = Similarity.sq8Bounds(emb)
    val wh = freshWh()
    AnnIndex.buildSq8(wh, "ann", "emb", emb, coarse, bounds)
    assert(rows(AnnIndex.topKSq8(wh, "ann", "emb", queries, k = 5, probes = 2)) ===
      rows(Similarity.ivfSq8TopK(queries, emb, coarse, k = 5, probes = 2)))
  }

  test("IVF+SQ8 serving scan prunes to the probed label partitions") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val probes = 2
    val coarse = Similarity.ivfCentroids(emb, "label")
    val wh = freshWh()
    AnnIndex.buildSq8(wh, "ann", "emb", emb, coarse, Similarity.sq8Bounds(emb))
    val probed = Similarity.ivfAssign(queries, coarse, probes)
      .select("label").distinct().count()
    assert(probed < coarse.count(), "fixture must leave some lists unprobed")
    val served = AnnIndex.topKSq8(wh, "ann", "emb", queries, k = 5, probes)
    val scans = scansOf(served.queryExecution.executedPlan, "emb_sq8_codes")
    assert(scans.nonEmpty, "expected a file scan over the sq8 codes table")
    assert(scans.head.partitionFilters.nonEmpty,
      "the probed labels must reach the scan as partition filters")
    assert(scans.head.selectedPartitions.partitionCount.toLong === probed,
      "the scan must list exactly the probed label directories")
  }

  private def hammingRows(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "neighbor_id", "hamming", "cos_e4", "rank")
      .as[(Long, Long, Int, Long, Int)].collect().sortBy(r => (r._1, r._5)).toSeq

  test("Hamming store: stored sign words answer exactly like ad-hoc hammingTopK") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val wh = freshWh()
    AnnIndex.buildHamming(wh, "ann", "emb", emb)
    assert(hammingRows(AnnIndex.topKHamming(wh, "ann", "emb", queries, k = 5)) ===
      hammingRows(Similarity.hammingTopK(queries, emb, k = 5)))
  }

  test("Hamming shortlist scan reads only (id, w0, w1) — qe stays pruned out") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val wh = freshWh()
    AnnIndex.buildHamming(wh, "ann", "emb", emb)
    val served = AnnIndex.topKHamming(wh, "ann", "emb", queries, k = 5)
    val scans = scansOf(served.queryExecution.executedPlan, "emb_signs")
    assert(scans.nonEmpty, "expected file scans over the signs table")
    // two scans exist by design: the 16 B-wide shortlist scan (no qe) and
    // the post-shortlist qe fetch — the WIDE column must appear in exactly
    // the fetch scan, never the shortlist scan
    val schemas = scans.map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.exists(s => s == Set("id", "w0", "w1")),
      s"one scan must read exactly (id,w0,w1); got $schemas")
    assert(schemas.exists(s => !s.contains("w0") && s.contains("qe")),
      s"the qe fetch must not re-read the words; got $schemas")
  }
}
