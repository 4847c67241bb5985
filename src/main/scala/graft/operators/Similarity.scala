package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.stableHash60

/** Vector similarity search over an `Array[Float]` embedding column:
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * bucketing as the approximate scale path, and cosine near-dup pairs.
  *
  * Numeric determinism: vectors are quantized to integers (×1000, round) and
  * all dot products are integer sums — exactly representable in doubles at
  * any accumulation order — so scores are bit-identical run-to-run, across
  * partitionings, and across engines (the DuckDB oracle reproduces them).
  * The ×1000 quantization costs < 1e-3 relative cosine error on unit-scale
  * embeddings — irrelevant for ranking, essential for reproducibility.
  *
  * Scale notes (the 100 TB contract):
  *   - brute-force is O(|Q|·|C|): correct tool only when |Q| is small and
  *     broadcast (the plan broadcasts the query side — zero shuffle of the
  *     corpus, one scan, codegen'd array fold per row).
  *   - LSH: each vector maps to a bucket code from `nPlanes` md5-seeded
  *     hyperplanes; search touches only same-bucket candidates. Bucket
  *     assignment is a scan + per-row array fold against a broadcast plane
  *     table (no shuffle); the candidate join keys on bucket codes. Recall
  *     tunes with nPlanes (fewer planes → bigger buckets → higher recall).
  */
object Similarity {

  /** Quantize a float/double array to longs: floor(x·1000 + 0.5). Fixed-point
    * floor, not round() — decimal round() disagrees across engines on
    * representation ties (see TextFunctions.fixedPoint). */
  def quantize(a: Column): Column =
    transform(a, x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  /** Exact integer dot product of two long-array columns — a native
    * codegen'd expression (org.apache.spark.sql.graft.ArrayLongDot): same
    * left-to-right summation as the HOF formulation, compiled to a
    * primitive loop (magnitudes ≤ dim · 1e6 ≪ 2^53, exact anywhere). */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ArrayLongDot(a, b)

  /** Cosine over quantized vectors — deterministic double from exact ints. */
  def qcosine(a: Column, b: Column): Column =
    qdot(a, b) / (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** (id, quantized emb, precomputed L2 norm) — norms are computed ONCE per
    * vector, not once per compared pair (the O(|Q|·|C|) stages only pay the
    * cross-dot; identical doubles since the norm inputs are exact ints). */
  private def withNorm(df: DataFrame, idCol: String, embCol: String,
                       id: String, emb: String, norm: String): DataFrame =
    df.select(col(idCol).as(id), quantize(col(embCol)).as(emb))
      .withColumn(norm, sqrt(qdot(col(emb), col(emb)).cast("double")))

  /** Exact top-k neighbors for each query vector (self-match excluded).
    * queries/corpus: (idCol, embCol). Query side is broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(withNorm(queries, idCol, embCol, "q_id", "q_emb", "q_norm"))
    val scored = withNorm(corpus, idCol, embCol, idCol, "__qe", "__cn")
      .join(q, col("q_id") =!= col(idCol))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("q_emb"), col("__qe")) / (col("q_norm") * col("__cn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"), col("rank").cast("int").as("rank"))
  }

  /** md5-seeded integer hyperplanes: nPlanes rows of (p, w[dim]) with each
    * weight in [-500, 500] from md5(p ':' d) — reproducible anywhere, no RNG. */
  def hyperplanes(spark: SparkSession, nPlanes: Int, dim: Int): DataFrame =
    spark.range(nPlanes).select(col("id").cast("int").as("p"))
      .withColumn("w", transform(sequence(lit(0), lit(dim - 1)),
        d => stableHash60(concat(col("p").cast("string"), lit(":"), d.cast("string"))) % 1001 - 500))

  /** The hyperplane table collected to the driver — nPlanes rows of d
    * integer weights (8×64 longs for the query surface: registry-scale,
    * the same budget class as the Bloom bitmap), so the bucket can be a
    * row-local expression instead of a join + aggregate. Types coerce
    * (any integral p / element type works, as the join formulation did);
    * an EMPTY planes frame fails loudly — folding zero planes would give
    * every row bucket 0 and silently turn the candidate join into a full
    * cross product. One collect per operator call: callers hoist the
    * result and share it across their sides. */
  private[operators] def planesLocal(planes: DataFrame): Array[(Int, Array[Long])] = {
    val pl = planes
      .select(col("p").cast("int"), col("w").cast("array<long>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    require(pl.nonEmpty,
      "empty hyperplane table: zero planes would put every vector in " +
        "bucket 0 (a silent all-pairs join) — build planes with nPlanes >= 1")
    pl
  }

  /** Row-local LSH bucket of a quantized embedding column: bit p set iff
    * qe · plane_p > 0, the planes folded in as literal arrays. Integer
    * dot → fully deterministic; no join, no aggregate — the bucket rides
    * whatever projection already computes the vector, so bucketing a
    * corpus costs ZERO shuffle (the pre-round-5 formulation joined a
    * groupBy'd bucket frame back on id, exchanging every embedding). */
  private[operators] def bucketCol(qe: Column,
                                   pl: Array[(Int, Array[Long])]): Column =
    pl.foldLeft(lit(0L)) { case (acc, (p, w)) =>
      acc.bitwiseOR(when(qdot(qe, array(w.map(lit(_)): _*)) > 0,
        lit(1L << p)).otherwise(lit(0L)))
    }

  /** withNorm plus the row-local bucket — the one-projection frame every
    * LSH consumer (annTopK, cosineNearDupPairs, semanticContaminated)
    * builds its candidate join from. Takes the COLLECTED planes so an
    * operator collects once and shares across its sides. */
  private[operators] def withNormAndBucket(df: DataFrame,
                                           pl: Array[(Int, Array[Long])],
                                           idCol: String, embCol: String,
                                           id: String, emb: String,
                                           norm: String): DataFrame =
    withNorm(df, idCol, embCol, id, emb, norm)
      .withColumn("bucket", bucketCol(col(emb), pl))

  /** Approximate top-k: candidates share the query's bucket code, then exact
    * cosine rank within the bucket. */
  def annTopK(queries: DataFrame, corpus: DataFrame, planes: DataFrame, k: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val pl = planesLocal(planes)
    val corpusB = withNormAndBucket(corpus, pl, idCol, embCol, idCol, "__qe", "__cn")
    val q = broadcast(withNormAndBucket(queries, pl, idCol, embCol, idCol, "q_emb", "q_norm")
      .select(col(idCol).as("q_id"), col("q_emb"), col("q_norm"), col("bucket")))
    val scored = corpusB.join(q, Seq("bucket")).filter(col("q_id") =!= col(idCol))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("q_emb"), col("__qe")) / (col("q_norm") * col("__cn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"), col("rank").cast("int").as("rank"))
  }

  /** IVF coarse centroids: element-wise mean of the quantized vectors per
    * partition label, re-quantized (floor(sum/n + 0.5) — exact ints in, so
    * deterministic in any engine). At scale the labels come from a k-means
    * pass; here any coarse partition column works. Output: (label, ce). */
  def ivfCentroids(df: DataFrame, labelCol: String,
                   embCol: String = "embedding"): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(quantize(col(embCol))).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(floor(sum(col("v")) / count(lit(1)) + 0.5).cast("long").as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        x => x.getField("c")).as("ce"))

  /** Embedding-distribution drift between two corpus snapshots, per
    * label: how far each label's integer centroid moved from snapshot A
    * to snapshot B — the embedding-space complement of the token-level
    * drift matrix (Profiler.tokenDrift): "did this slice's embedding
    * distribution shift between crawls / model versions", the signal
    * that an ANN store's frozen centroids (AnnIndex) need a recall
    * re-check or a rebuild. All integer: centroids are the q39/q60
    * floor-mean convention, drift_sq = |ca − cb|² via the exact
    * three-dot identity, norms are self-dots — engine-exact, no
    * tolerance anywhere. Labels present in only one snapshot report
    * null on the missing side (appeared/vanished slices are exactly
    * what a drift monitor must surface, not drop).
    *
    * Scale shape: two centroid aggregations (per-label element-wise
    * means — map-side combinable, label·dim narrow rows through the
    * shuffle) + a label-count aggregate each, joined at label
    * granularity — the comparison never touches vector pairs. */
  def centroidDrift(snapA: DataFrame, snapB: DataFrame, labelCol: String,
                    embCol: String = "embedding"): DataFrame = {
    def side(df: DataFrame, c: String, n: String): DataFrame =
      ivfCentroids(df, labelCol, embCol).withColumnRenamed("ce", c)
        .join(df.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as(n)),
          Seq("label"))
    side(snapA, "ca", "n_a").join(side(snapB, "cb", "n_b"), Seq("label"), "full_outer")
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("ca").isNotNull && col("cb").isNotNull,
          qdistSq(col("ca"), col("cb"))).as("drift_sq"),
        when(col("ca").isNotNull, qdot(col("ca"), col("ca"))).as("norm_a_sq"),
        when(col("cb").isNotNull, qdot(col("cb"), col("cb"))).as("norm_b_sq"))
  }

  /** Deterministic Lloyd's k-means over quantized vectors — real learned
    * IVF centroids (no RNG: seeds are the k lowest-id vectors; fixed
    * iteration count; integer-quantized means). The corpus is projected
    * (quantize + norm) and persisted ONCE — seeding and every iteration
    * read the projected frame, so the source scan and the per-vector
    * quantization are paid once, not once per Lloyd's round. Each
    * iteration is then one broadcast-assign pass + one element-wise mean
    * shuffle on the label — O(iters · corpus) compute with no driver-side
    * data beyond the k centroids. Empty clusters keep their previous
    * centroid. */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int = 5,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val base = withNorm(df, idCol, embCol, idCol, "__qe", "__n")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // kmeansSeeds' plan, reading the already-quantized projection
      var cent = base.select(col(idCol), col("__qe").as("ce"))
        .orderBy(col(idCol)).limit(k)
        .agg(sort_array(collect_list(struct(col(idCol).as("i"), col("ce")))).as("__arr"))
        .select(posexplode(col("__arr")).as(Seq("label", "s")))
        .select(col("label").cast("int").as("label"), col("s.ce").as("ce"))
      for (_ <- 1 to iters) {
        val assigned = ivfAssignProjected(base, cent, probes = 1, idCol)
        val means = assigned
          .select(col("label"), posexplode(col("__qe")).as(Seq("d", "v")))
          .groupBy(col("label"), col("d"))
          .agg(floor(sum(col("v")) / count(lit(1)) + 0.5).cast("long").as("c"))
          .groupBy(col("label"))
          .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
            x => x.getField("c")).as("ce"))
        // clusters that lost every member keep their previous centroid
        val kept = cent.join(means.select(col("label")), Seq("label"), "left_anti")
        cent = means.unionByName(kept).localCheckpoint(true) // cut the lineage per iteration
      }
      cent
    } finally base.unpersist() // cent is eagerly checkpointed — safe to drop
  }

  /** k-means seeds: the k lowest-id vectors via orderBy(...).limit(k) —
    * TakeOrderedAndProject (per-partition heaps + driver merge of k rows).
    * Labels come from sort_array(collect_list(...)) + posexplode over those
    * k rows — a two-phase aggregate, so the corpus never funnels through a
    * single-partition window (no WindowExec warning in any iteration). */
  def kmeansSeeds(df: DataFrame, k: Int,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    df.select(col(idCol), quantize(col(embCol)).as("ce"))
      .orderBy(col(idCol)).limit(k)
      .agg(sort_array(collect_list(struct(col(idCol).as("i"), col("ce")))).as("__arr"))
      .select(posexplode(col("__arr")).as(Seq("label", "s")))
      .select(col("label").cast("int").as("label"), col("s.ce").as("ce"))

  /** IVF assignment: nearest centroid(s) by cosine per vector (rank ≤
    * probes), deterministic tie-break on label. */
  def ivfAssign(df: DataFrame, centroids: DataFrame, probes: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfAssignProjected(withNorm(df, idCol, embCol, idCol, "__qe", "__n"),
      centroids, probes, idCol)

  /** [[ivfAssign]] over an already-projected (idCol, __qe, __n) frame —
    * the iteration-loop entry that lets kmeans pay the projection once. */
  private def ivfAssignProjected(base: DataFrame, centroids: DataFrame,
                                 probes: Int, idCol: String): DataFrame = {
    val scored = base
      .join(broadcast(centroids
        .withColumn("__cn", sqrt(qdot(col("ce"), col("ce")).cast("double")))), lit(true))
      .withColumn("__cs", qdot(col("__qe"), col("ce")) / (col("__n") * col("__cn")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__cs").desc, col("label"))
    scored.withColumn("__r", row_number().over(w)).filter(col("__r") <= probes)
      .select(col(idCol), col("label"), col("__qe"), col("__n"))
  }

  /** IVF approximate top-k: corpus vectors live in their nearest centroid's
    * list (probes=1); each query probes its `probes` nearest lists and
    * ranks candidates by exact cosine. The classic inverted-file ANN — the
    * candidate join keys on the coarse label, so search cost is
    * |query lists probed| ≈ corpus/nlist × probes per query. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, probes: Int = 2,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfTopKFromLists(queries,
      ivfAssign(corpus, centroids, probes = 1, idCol, embCol),
      centroids, k, probes, idCol, embCol)

  /** The IVF query path against ALREADY-ASSIGNED inverted lists —
    * (idCol, label, __qe, __n) rows, e.g. read back from an [[AnnIndex]]
    * store. Serving never re-quantizes or re-assigns the corpus; only
    * the (tiny, broadcast) query side computes anything per call.
    *
    * `excludeSelf` drops candidates whose id EQUALS the query id — right
    * when queries are drawn from the corpus itself (q37's shape), wrong
    * for a serving index whose query ids live in an unrelated id space:
    * there an accidental id collision would silently drop a stored
    * vector from that query's candidates. Pass false for external
    * queries. */
  def ivfTopKFromLists(queries: DataFrame, lists: DataFrame, centroids: DataFrame,
                       k: Int, probes: Int = 2,
                       idCol: String = "vec_id", embCol: String = "embedding",
                       excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(ivfAssign(queries, centroids, probes, idCol, embCol)
      .select(col(idCol).as("q_id"), col("label"), col("__qe").as("q_emb"), col("__n").as("q_norm")))
    val joined = lists.join(q, Seq("label"))
    val scored = (if (excludeSelf) joined.filter(col("q_id") =!= col(idCol)) else joined)
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("q_emb"), col("__qe")) / (col("q_norm") * col("__n")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"), col("rank").cast("int").as("rank"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold among same-LSH-bucket
    * candidates (a_id < b_id). The scale-safe variant of all-pairs cosine. */
  def cosineNearDupPairs(df: DataFrame, planes: DataFrame, threshold: Double,
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val withB = withNormAndBucket(df, planesLocal(planes), idCol, embCol, idCol, "__qe", "__n")
    withB.select(col("bucket"), col(idCol).as("a_id"), col("__qe").as("a_emb"), col("__n").as("a_n"))
      .join(withB.select(col("bucket"), col(idCol).as("b_id"), col("__qe").as("b_emb"), col("__n").as("b_n")),
        Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4))
      .filter(col("cos_e4") >= (threshold * 10000).round)
      .select(col("a_id"), col("b_id"), col("cos_e4"))
  }

  /** Per-dimension corpus bounds of the e3-quantized values — the codebook
    * for scalar quantization: ONE row (lo[dim], hi[dim]). One posexplode +
    * groupBy(d) (dim·corpus narrow rows, uniform keys), then a two-phase
    * collect of dim values — never more than `dim` longs on the driver. */
  def sq8Bounds(corpus: DataFrame, embCol: String = "embedding"): DataFrame =
    corpus.select(posexplode(quantize(col(embCol))).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(min(col("v")).as("l"), max(col("v")).as("h"))
      .agg(sort_array(collect_list(struct(col("d"), col("l"), col("h")))).as("__b"))
      .select(transform(col("__b"), x => x.getField("l")).as("lo"),
        transform(col("__b"), x => x.getField("h")).as("hi"))

  /** SQ8 encode: per dim, code = floor((v−lo)·255 / max(hi−lo, 1)) ∈
    * [0, 255] — 1 byte of information per dimension instead of 4 (the 4×
    * memory/IO cut is WHY scalar quantization exists at 100 TB; codes ride
    * as longs in-plan so the integer-dot kernel applies). The division is
    * IEEE-double over exact ints with numerator ≤ ~5e8 — a quotient can
    * never land within an ulp of an integer it shouldn't cross, so floor
    * is engine-exact (the oracle runs the same float divide + floor). */
  /** Codes from an ALREADY e3-quantized (long array) vector. */
  private def sq8CodesQ(qe: Column, lo: Column, hi: Column): Column =
    zip_with(
      qe,
      zip_with(lo, hi, (l, h) => struct(l.as("l"), h.as("h"))),
      (v, b) => floor(((v - b("l")) * 255).cast("double") /
        greatest(b("h") - b("l"), lit(1L))).cast("long"))

  /** The code array of one embedding given per-dim bounds columns. */
  private def sq8Codes(emb: Column, lo: Column, hi: Column): Column =
    sq8CodesQ(quantize(emb), lo, hi)

  def sq8Encode(df: DataFrame, bounds: DataFrame,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    df.join(broadcast(bounds), lit(true))
      .select(col(idCol), sq8Codes(col(embCol), col("lo"), col("hi")).as("sq_codes"))

  /** Decode SQ8 codes to the integer reconstruction ×255 — cosine is
    * scale-invariant, so scaling by 255 keeps everything integer:
    * v̂·255 = lo·255 + code·(hi−lo). Magnitudes ≤ ~5e5/dim → dots ≪ 2^53,
    * exact anywhere. */
  def sq8Decode(codes: Column, lo: Column, hi: Column): Column =
    zip_with(codes,
      zip_with(lo, hi, (l, h) => struct(l.as("l"), h.as("h"))),
      (c, b) => b("l") * 255 + c * (b("h") - b("l")))

  /** Per-dimension SQ8 quantization-distortion audit — the "is 8-bit
    * scalar quantization safe for THIS corpus" input the ANN lifecycle's
    * other monitors don't measure: occupancy ([[AnnIndex.stats]]) and
    * drift ([[centroidDrift]]) watch the coarse layer, recall curves cost
    * a full exact side; this reads the code layer directly in one scan.
    * Per dim d: count, sum, sum-of-squares, and max of the reconstruction
    * error in the ×255 integer domain (err = v_q·255 − v̂·255 ∈
    * [0, hi_d−lo_d) — floor codes never overshoot), plus mean_err_e4. A
    * dimension whose max_err dwarfs the others has a heavy-tailed value
    * distribution that one (lo, hi) pair can't quantize — the signal to
    * switch that corpus to PQ (codebooks bend around tails) or clip
    * outliers before encoding.
    *
    * All-integer and engine-exact: the only divide is SQ8's own
    * double-divide-then-floor (oracle-exact per [[sq8CodesQ]]'s argument);
    * err ≤ hi−lo ≈ 4e3, err² ≤ 1.6e7, summed over corpus·dim ≪ 2^53.
    * Shape: bounds (one posexplode + dim-key groupBy) then one more
    * corpus scan with the same narrow explode — both stages uniform keys,
    * dim-bounded output. */
  def sq8Distortion(corpus: DataFrame, embCol: String = "embedding"): DataFrame = {
    val bounds = sq8Bounds(corpus, embCol)
    val qe = quantize(col(embCol))
    val rec = sq8Decode(sq8CodesQ(qe, col("lo"), col("hi")), col("lo"), col("hi"))
    val errs = corpus.join(broadcast(bounds), lit(true))
      .select(posexplode(zip_with(qe, rec, (v, r) => v * 255 - r))
        .as(Seq("d", "err")))
    errs.groupBy(col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("err")).as("sum_err"),
        sum(col("err") * col("err")).as("sum_sq_err"),
        max(col("err")).as("max_err"))
      .withColumn("mean_err_e4", expr("sum_err * 10000L div n_vectors"))
  }

  /** SQ8 approximate top-k: rank by exact integer cosine over the DECODED
    * reconstructions (ranking raw code dots would be wrong — the per-dim
    * `lo` shift changes the ranking; reconstruction-space cosine is what
    * FAISS-style SQ8 search computes). Query side broadcast — zero corpus
    * shuffle, one scan, same plan shape as bruteForceTopK; what changed is
    * that the corpus can now be STORED as 1-byte codes (4× less IO) and
    * decoded on the fly inside codegen. Returns (q_id, neighbor_id,
    * cos_e4, rank); measure ranking loss with sq8Recall. */
  /** Encode-then-decode in ONE projection: (id, reconstruction ×255, its
    * norm). Shared by sq8TopK and ivfSq8TopK — and a single select, so the
    * bounds broadcast joins once per frame, not once to encode plus once
    * to decode. */
  private def sq8Reconstructed(df: DataFrame, bounds: DataFrame,
                               idCol: String, embCol: String,
                               id: String, emb: String, norm: String): DataFrame =
    df.join(broadcast(bounds), lit(true))
      .select(col(idCol).as(id), sq8Decode(
        sq8Codes(col(embCol), col("lo"), col("hi")),
        col("lo"), col("hi")).as(emb))
      .withColumn(norm, sqrt(qdot(col(emb), col(emb)).cast("double")))

  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bounds = sq8Bounds(corpus, embCol)
    def decoded(df: DataFrame, id: String, emb: String, norm: String): DataFrame =
      sq8Reconstructed(df, bounds, idCol, embCol, id, emb, norm)
    val q = broadcast(decoded(queries, "q_id", "q_emb", "q_norm"))
    val scored = decoded(corpus, idCol, "__re", "__rn")
      .join(q, col("q_id") =!= col(idCol))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("q_emb"), col("__re")) / (col("q_norm") * col("__rn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"),
        col("rank").cast("int").as("rank"))
  }

  /** IVF lists + SQ8 scoring — the FAISS-style composition for corpora
    * whose full-precision vectors don't fit the serving tier: inverted
    * lists are assigned at INGEST from the full-precision vectors (when
    * they're still on hand), query-time candidates come from the probed
    * lists only, and ranking reads nothing but the stored 8-bit codes
    * (decoded on the fly inside codegen). Search cost ≈ corpus/nlists ×
    * probes per query over data 1/4 the size. */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                 k: Int, probes: Int = 2,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bounds = sq8Bounds(corpus, embCol)
    ivfSq8TopKFromCodes(queries,
      ivfSq8Encode(corpus, centroids, bounds, idCol, embCol),
      centroids, bounds, k, probes, idCol, embCol)
  }

  /** The composed (id, label, sq_codes) rows an AnnIndex IVF+SQ8 store
    * persists: each vector's coarse list next to its byte codes.
    * ivfAssign already carries the e3-quantized vector (__qe) — encode
    * from it directly rather than re-scanning the corpus and joining the
    * codes back on id (a second full-corpus exchange for data the assign
    * output already holds). Codes depend only on the frozen (centroids,
    * bounds) pair, so append-equals-rebuild holds for any store built on
    * them. */
  def ivfSq8Encode(vectors: DataFrame, centroids: DataFrame, bounds: DataFrame,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfAssign(vectors, centroids, probes = 1, idCol, embCol)
      .join(broadcast(bounds), lit(true))
      .select(col(idCol), col("label"),
        sq8CodesQ(col("__qe"), col("lo"), col("hi")).as("sq_codes"))

  /** The IVF+SQ8 query path against ALREADY-ENCODED composed rows —
    * (idCol, label, sq_codes), e.g. read back from an [[AnnIndex]] SQ8
    * store. Candidates come from the coarse-list join (the store prunes
    * the scan to probed labels before this runs); scoring reconstructs
    * each candidate from its byte codes and ranks by the exact
    * reconstruction cosine. `excludeSelf` as in [[ivfTopKFromLists]]. */
  def ivfSq8TopKFromCodes(queries: DataFrame, codes: DataFrame,
                          centroids: DataFrame, bounds: DataFrame,
                          k: Int, probes: Int = 2,
                          idCol: String = "vec_id", embCol: String = "embedding",
                          excludeSelf: Boolean = true): DataFrame = {
    val corpusIdx = codes.join(broadcast(bounds), lit(true))
      .select(col(idCol), col("label"),
        sq8Decode(col("sq_codes"), col("lo"), col("hi")).as("__re"))
      .withColumn("__rn", sqrt(qdot(col("__re"), col("__re")).cast("double")))
    val q = broadcast(
      ivfAssign(queries, centroids, probes, idCol, embCol)
        .join(broadcast(bounds), lit(true))
        .select(col(idCol).as("q_id"), col("label"),
          sq8Decode(sq8CodesQ(col("__qe"), col("lo"), col("hi")),
            col("lo"), col("hi")).as("q_emb"))
        .withColumn("q_norm", sqrt(qdot(col("q_emb"), col("q_emb")).cast("double"))))
    val joined = corpusIdx.join(q, Seq("label"))
    val scored = (if (excludeSelf) joined.filter(col("q_id") =!= col(idCol)) else joined)
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("q_emb"), col("__re")) / (col("q_norm") * col("__rn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"),
        col("rank").cast("int").as("rank"))
  }

  /** Recall@k of the SQ8 ranking against the exact cosine ranking:
    * per query, |sq8 top-k ∩ exact top-k| / k. The number that tells you
    * whether the 4× compression is free for YOUR corpus. */
  def sq8Recall(queries: DataFrame, corpus: DataFrame, k: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val exact = bruteForceTopK(queries, corpus, k, idCol, embCol)
      .select(col("q_id"), col("neighbor_id"))
    val approx = sq8TopK(queries, corpus, k, idCol, embCol)
      .select(col("q_id"), col("neighbor_id"))
    approx.join(exact, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      .join(queries.select(col(idCol).as("q_id")), Seq("q_id"), "right")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_e4", graft.functions.TextFunctions.fixedPoint(
        col("n_hits") / lit(k.toDouble), 4))
  }

  /** IVF recall-vs-probes curve: mean recall@k of [[ivfTopK]] against the
    * exact cosine ranking, one row per probe count — the "choose probes"
    * tuning input (q147's compression curve for the ANN side): where the
    * recall curve flattens, additional probes stop buying accuracy and
    * only cost candidate scans. The exact top-k is computed ONCE and
    * persisted across all probe points (it is the expensive side —
    * |Q|·|corpus| scores); each IVF run reuses the same centroid frame.
    * Counts are exact integers; one division at the end. */
  def ivfRecallCurve(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                     k: Int, probes: Seq[Int],
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val exact = bruteForceTopK(queries, corpus, k, idCol, embCol)
      .select(col("q_id"), col("neighbor_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    val out = probes.map { p =>
      ivfTopK(queries, corpus, centroids, k, p, idCol, embCol)
        .select(col("q_id"), col("neighbor_id"))
        .join(exact, Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .join(broadcast(nq), lit(true))
        .select(lit(p.toLong).as("probes"), col("n_queries"), col("n_hits"),
          expr(s"n_hits * 10000L div (n_queries * ${k}L)").as("recall_e4"))
    }.reduce(_.unionByName(_)).localCheckpoint(true)
    exact.unpersist()
    out
  }

  /** Squared L2 distance in the quantized space — EXACT integer from three
    * integer dot products: |a−b|² = a·a + b·b − 2·a·b. No per-dimension
    * float subtraction, so no summation-order sensitivity anywhere. */
  def qdistSq(a: Column, b: Column): Column =
    qdot(a, a) + qdot(b, b) - lit(2L) * qdot(a, b)

  /** Embedding-space outlier detection — the quality filter a training
    * pipeline runs over labeled/clustered embeddings: a vector far from its
    * own label's centroid is likely mislabeled or noise. Verdict: dist² >
    * `factor` × the label's integer mean dist². One corpus scan: centroids
    * (tiny — one row per label) broadcast back, the per-label mean rides a
    * window over `label` rather than a groupBy+re-join, which would rescan
    * the corpus per branch. Label cardinality bounds window parallelism —
    * fine for the coarse partitions this targets (same trade as
    * ivfCentroids' groupBy). Output: (idCol, label, dist_sq, is_outlier). */
  def centroidOutliers(df: DataFrame, factor: Int = 2,
                       idCol: String = "vec_id", labelCol: String = "label",
                       embCol: String = "embedding"): DataFrame = {
    val cent = ivfCentroids(df, labelCol, embCol)
    val w = Window.partitionBy(col("label"))
    df.select(col(idCol), col(labelCol).as("label"), quantize(col(embCol)).as("__qe"))
      .join(broadcast(cent), Seq("label"))
      .withColumn("dist_sq", qdistSq(col("__qe"), col("ce")))
      .withColumn("mean_dist",
        floor(sum(col("dist_sq")).over(w) / count(lit(1)).over(w) + 0.5).cast("long"))
      .select(col(idCol), col("label"), col("dist_sq"),
        (col("dist_sq") > lit(factor.toLong) * col("mean_dist")).as("is_outlier"))
  }

  // ---- Product quantization (PQ) ----

  /** (id, sub, qe): every vector's quantized subvectors, one row per
    * subspace — the shared slicing for codebook training, encoding, and
    * the query lookup table. Row-local explode; no shuffle. */
  private def pqSliced(df: DataFrame, m: Int, dim: Int,
                       idCol: String, embCol: String): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val len = dim / m
    val subs = (0 until m).map(s => struct(lit(s).as("sub"),
      slice(col("__qe"), s * len + 1, len).as("qe")))
    df.select(col(idCol), quantize(col(embCol)).as("__qe"))
      .select(col(idCol), explode(array(subs: _*)).as("__x"))
      .select(col(idCol), col("__x.sub").as("sub"), col("__x.qe").as("qe"))
  }

  /** PQ codebooks: an independent deterministic Lloyd's (kmeansCentroids'
    * exact semantics — lowest-id seeds, integer means, label tie-breaks)
    * per subspace, but trained for ALL m subspaces in the SAME jobs: the
    * corpus explodes once to (id, sub, subvector) rows and every
    * assignment/mean keys on (sub, label), so m subspaces cost the job
    * count of one (a per-subspace driver loop would run m× the Spark
    * jobs for identical results). Output (sub, label, ce) — m·k rows,
    * broadcast-sized for any real m/k. */
  def pqCodebooks(corpus: DataFrame, m: Int, k: Int, dim: Int, iters: Int = 2,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sliced = pqSliced(corpus, m, dim, idCol, embCol).localCheckpoint(true)
    // seeds: the k lowest-id vectors' slices; label = id rank, per subspace
    // (the same k ids in every subspace, so one TakeOrdered feeds all m)
    val low = corpus.select(col(idCol), col(embCol)).orderBy(col(idCol)).limit(k)
    var cent = pqSliced(low, m, dim, idCol, embCol)
      .withColumn("label", (row_number().over(
        Window.partitionBy(col("sub")).orderBy(col(idCol))) - 1).cast("int"))
      .select(col("sub"), col("label"), col("qe").as("ce"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val w = Window.partitionBy(col(idCol), col("sub"))
        .orderBy(col("__cs").desc, col("label"))
      val assigned = sliced.join(broadcast(cent), Seq("sub"))
        .withColumn("__cs", qcosine(col("qe"), col("ce")))
        .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
        .select(col("sub"), col("label"), col("qe"))
      val means = assigned
        .select(col("sub"), col("label"), posexplode(col("qe")).as(Seq("d", "v")))
        .groupBy(col("sub"), col("label"), col("d"))
        .agg(floor(sum(col("v")) / count(lit(1)) + 0.5).cast("long").as("c"))
        .groupBy(col("sub"), col("label"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          x => x.getField("c")).as("ce"))
      // clusters that lost every member keep their previous centroid
      val kept = cent.join(means.select(col("sub"), col("label")),
        Seq("sub", "label"), "left_anti")
      cent = means.unionByName(kept).localCheckpoint(true)
    }
    cent
  }

  /** PQ encoding: each vector's nearest codebook entry per subspace by the
    * same cosine+tie-break as ivfAssign. Output (id, sub, label) — the
    * stored index is m small codes per vector (3 bits each at k = 8;
    * 16× beyond SQ8's 4× on a 64-dim float vector). One corpus scan, the
    * codebook broadcast, one rank window keyed (id, sub). */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val scored = pqSliced(corpus, m, dim, idCol, embCol)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("__cs", qcosine(col("qe"), col("ce")))
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("__cs").desc, col("label"))
    scored.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col(idCol), col("sub"), col("label"))
  }

  /** Per-subspace PQ quantization distortion — [[sq8Distortion]]'s sibling
    * on the codebook quantizer: for every vector's winning codebook entry
    * per subspace, the exact integer squared L2 between the subvector and
    * its reconstruction (q·q + c·c − 2q·c, all e3-integer dots), reduced
    * to (sub, n_vectors, sum_sq_err, max_sq_err, mean_sq_err). Read
    * TOGETHER with [[sq8Distortion]] this decides WHICH quantizer a corpus
    * gets: SQ8 loses on heavy-tailed dims, PQ on subspaces whose 8 entries
    * under-cover the slice (that subspace's sum_sq_err dwarfs the rest —
    * the raise-k-or-resplit signal). Shape: one sliced scan, codebook
    * broadcast, the pqEncode rank window, one sub-keyed aggregate —
    * m·corpus narrow rows, no pair stage. */
  def pqDistortion(corpus: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val scored = pqSliced(corpus, m, dim, idCol, embCol)
      .join(broadcast(codebooks), Seq("sub"))
      .withColumn("__cs", qcosine(col("qe"), col("ce")))
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("__cs").desc, col("label"))
    scored.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .withColumn("sq_err", qdot(col("qe"), col("qe")) + qdot(col("ce"), col("ce"))
        - lit(2L) * qdot(col("qe"), col("ce")))
      .groupBy(col("sub").cast("long").as("sub"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("sq_err")).as("sum_sq_err"),
        max(col("sq_err")).as("max_sq_err"))
      .withColumn("mean_sq_err", expr("sum_sq_err div n_vectors"))
  }

  /** PQ asymmetric-distance top-k (ADC): the query's subvectors dot every
    * codebook entry ONCE (an m·k lookup table per query, broadcast), then
    * every corpus vector scores through its codes alone — the ranking
    * reads nothing wider than (sub, label) ints, and the reconstruction
    * norm² comes from the codebook self-dots. Approximate dot = Σ_sub
    * lut(q, sub, code); cos against the reconstruction's norm, exact-int
    * inputs → identical doubles → e4 fixed point, like every ANN ranking
    * here. At 100 TB compose with IVF lists to prune candidates first
    * (this is the FAISS IVFADC shape); ADC itself is the memory/IO win,
    * not a candidate filter. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, codebooks: DataFrame,
             k: Int, m: Int, dim: Int,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    pqTopKFromCodes(queries,
      pqEncode(corpus, codebooks.select("sub", "label", "ce"), m, dim, idCol, embCol),
      codebooks, k, m, dim, idCol, embCol)

  /** The ADC query path against ALREADY-ENCODED codes — (idCol, sub,
    * label) rows, e.g. read back from an [[AnnIndex]] PQ store. Serving
    * reads nothing wider than the code ints; only the per-query lookup
    * table computes anything per call. `excludeSelf` as in
    * [[ivfTopKFromLists]]: keep the default only when queries come from
    * the indexed corpus itself. */
  def pqTopKFromCodes(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
                      k: Int, m: Int, dim: Int,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      excludeSelf: Boolean = true): DataFrame = {
    val cb = codebooks.withColumn("cn2", qdot(col("ce"), col("ce")))
    // the lut carries the codebook entry's self-dot next to the query dot,
    // so ONE (q_id, vec_id) aggregation yields both the approximate dot
    // and the reconstruction norm² — no corpus-sized norm join afterwards
    val lut = broadcast(
      pqSliced(queries, m, dim, idCol, embCol)
        .withColumnRenamed(idCol, "q_id")
        .join(cb.select(col("sub"), col("label"), col("ce"), col("cn2")), Seq("sub"))
        .select(col("q_id"), col("sub"), col("label"),
          qdot(col("qe"), col("ce")).as("pd"), col("cn2")))
    val qn = broadcast(queries
      .select(col(idCol).as("q_id"), quantize(col(embCol)).as("__qe"))
      .select(col("q_id"), qdot(col("__qe"), col("__qe")).as("qn2")))
    val aggd = codes.join(lut, Seq("sub", "label"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("pd")).as("dot"), sum(col("cn2")).as("rn2"))
      .join(qn, Seq("q_id"))
    val scored = (if (excludeSelf) aggd.filter(col("q_id") =!= col(idCol)) else aggd)
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        col("dot") / (sqrt(col("qn2").cast("double")) * sqrt(col("rn2").cast("double"))), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"),
        col("rank").cast("int").as("rank"))
  }

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * most-similar vectors with a DIFFERENT label — the negatives that
    * actually teach an embedding model (random negatives are trivially
    * far). Same broadcast-anchors shape as bruteForceTopK with the label
    * predicate fused into the join, so mismatched pairs never materialize;
    * swap the corpus scan for an IVF/PQ candidate stage at billion-vector
    * scale (the predicate composes with any candidate source). */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, k: Int,
                    labelCol: String = "label", idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val q = broadcast(withNorm(anchors, idCol, embCol, "q_id", "q_emb", "q_norm")
      .join(anchors.select(col(idCol).as("q_id"), col(labelCol).as("q_label")), "q_id"))
    val scored = withNorm(corpus, idCol, embCol, idCol, "__qe", "__cn")
      .join(corpus.select(col(idCol), col(labelCol)), idCol)
      .join(q, col("q_id") =!= col(idCol) && col("q_label") =!= col(labelCol))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("q_emb"), col("__qe")) / (col("q_norm") * col("__cn")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col(labelCol).as("neg_label"),
        col("cos_e4"), col("rank").cast("int").as("rank"))
  }

  /** Top principal component of an embedding column by distributed power
    * iteration — the whitening/compression primitive (project embeddings
    * onto their dominant direction; also the "remove the common-crawl
    * direction" trick from sentence-embedding postprocessing).
    *
    * Shape: ONE corpus scan builds the d×d covariance via a native
    * outer-product-sum aggregate (LongOuterSumAgg — each partition folds
    * its rows into a primitive long[d²] buffer; buffers merge by exact
    * integer add, so the corpus never shuffles and no per-cell rows ever
    * exist). The collected covariance is d²·8 bytes — registry-scale —
    * so the power iterations run on the driver; the corpus is touched
    * once more for the projection scan. Every step is integer: quantized
    * embeddings, floor-quantized means, integer cell sums, the iterate
    * re-quantized to ±1000 per step (floor(raw/max·1000+0.5) —
    * IEEE-exact in any engine).
    *
    * Scale note: |cell|·1000·d must stay under 2^63 — with ×1000
    * embedding quantization that bounds the corpus at ~10^7 rows per
    * covariance build; beyond that, drop the embedding quantization to
    * ×100 or compute the covariance over a deterministic sample (the
    * component converges on a fraction of the data).
    *
    * Returns (idCol, pc1_proj): the integer projection of each CENTERED
    * vector onto the (±1000-scaled) dominant eigenvector. */
  def pcaProjection(corpus: DataFrame, iters: Int = 8,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = corpus.select(col(idCol), quantize(col(embCol)).as("qe"))
    val mArr = e.select(posexplode(col("qe")).as(Seq("d", "v")))
      .groupBy(col("d"))
      .agg(floor(sum(col("v")) / count(lit(1)) + 0.5).cast("long").as("m"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        x => x.getField("m")).as("marr"))
    val centered = e.join(broadcast(mArr), lit(true))
      .select(col(idCol), zip_with(col("qe"), col("marr"), (a, b) => a - b).as("ce"))
      .persist()
    // ONE pass builds the d² covariance cells (native outer-product-sum
    // aggregate — no |rows|·d² explode; partials merge map-side)
    val flat = centered
      .agg(org.apache.spark.sql.graft.LongOuterSumAgg(col("ce")).as("flat"))
      .head().getSeq[Long](0).toArray
    require(flat.nonEmpty,
      "pcaProjection: no embedding rows (empty corpus, or an upstream " +
        "filter removed every row) — a covariance needs at least one vector")
    val d = math.sqrt(flat.length.toDouble).toInt
    // the covariance is d²·8 bytes (32 KB at d = 64) — registry-scale, so
    // the power iteration runs on the driver like any other collected
    // sketch (same budget class as the Bloom bitmap); the corpus is never
    // touched again until the projection scan
    var vv = Array.fill(d)(1000L)
    for (_ <- 1 to iters) {
      val raw = Array.tabulate(d) { i =>
        var s = 0L; var j = 0
        while (j < d) { s += flat(i * d + j) * vv(j); j += 1 }
        s
      }
      val mx = math.max(raw.map(math.abs).max, 1L)
      vv = raw.map(r => math.floor(r.toDouble / mx * 1000 + 0.5).toLong)
    }
    val vArr = array(vv.map(lit(_)): _*)
    val out = centered
      .select(col(idCol), qdot(col("ce"), vArr).as("pc1_proj"))
      .localCheckpoint(true)
    centered.unpersist()
    out
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup scoped by LEARNED
    * k-means clusters — embeddings cluster first, pairwise cosine runs
    * only WITHIN a cluster (Σ|cluster|² pairs, never corpus²), pairs
    * ≥ `tauE4` connect into duplicate groups, and each group keeps the
    * member FARTHEST from its centroid (the paper's keep-the-outlier
    * rule — prototypical members are the redundant ones), tie-broken by
    * id. Output: (cluster, idCol, dist_sq, keep) for every grouped
    * vector; singletons are implicitly kept.
    *
    * SCALE RULE — k must grow with the corpus: the within-cluster stage
    * is quadratic in cluster size, so a FIXED k turns clusters into
    * corpus/k-sized blobs and the pair count into (corpus/k)² · k. Size
    * k ∝ corpus / targetClusterSize (use [[semDedupAuto]], which derives
    * it), keeping per-cluster work constant as data grows. `pairBudget`
    * backstops miscalibration: the candidate pair count is measured on
    * the (cached) assignment before the quadratic stage runs, and the
    * call refuses ([[PairBudgetExceeded]], naming the observed count and
    * the k that would fix it) rather than launching a job that cannot
    * finish. `pairBudget <= 0` opts out and skips the census.
    *
    * EAGER: unlike most operators here, this call runs Spark jobs at
    * call time (the k-means fit, the budget probe, and the final
    * checkpoint) and returns an already-materialized frame — the
    * corpus-sized assignment cache must not outlive the call, so the
    * result cannot stay lazy. */
  def semDedup(corpus: DataFrame, k: Int, iters: Int, tauE4: Long,
               idCol: String = "vec_id", embCol: String = "embedding",
               pairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    val cent = kmeansCentroids(corpus, k, iters, idCol, embCol)
    val assigned = ivfAssign(corpus, cent, probes = 1, idCol, embCol)
      .persist()
    // one cheap census over the cached assignment (an empty corpus counts
    // zero pairs; the pipeline below lazily yields an empty frame)
    if (pairBudget > 0)
      PairCensus(assigned.groupBy(col("label")).agg(count(lit(1)).as("s")), "s", col("s"))
        .enforce("semDedup", pairBudget, () => assigned.unpersist()) { c =>
          val nRows = c.sums(0)
          // uniform clusters give ~k·(n/k)²/2 = n²/(2k) pairs, so the k
          // that lands under budget is ⌈n² / (2·budget)⌉
          val kFix = math.ceil(nRows.toDouble * nRows.toDouble / (2.0 * pairBudget)).toLong
          s"${c.pairs} within-cluster candidate pairs exceed the " +
            s"pair budget $pairBudget (corpus $nRows rows, k=$k). Raise k to " +
            s"~$kFix (or call semDedupAuto, which derives k from a target " +
            "cluster size) instead of running a quadratic stage this large."
        }
    // the assignment cache must release on EVERY exit — a failure in the
    // pair join / components / checkpoint below would otherwise pin a
    // corpus-sized cache for the life of the session
    try {
      val a = assigned.select(col(idCol).as("a_id"), col("label"),
        col("__qe").as("ae"), col("__n").as("an"))
      val b = assigned.select(col(idCol).as("b_id"), col("label"),
        col("__qe").as("be"), col("__n").as("bn"))
      val pairs = a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
        .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
          qdot(col("ae"), col("be")) / (col("an") * col("bn")), 4))
        .filter(col("cos_e4") >= tauE4)
        .select(col("a_id"), col("b_id"))
      val comp = Clusters.dedupClusters(pairs)
      val dist = assigned.join(broadcast(cent), "label")
        .select(col(idCol),
          (qdot(col("__qe"), col("__qe")) + qdot(col("ce"), col("ce"))
            - lit(2) * qdot(col("__qe"), col("ce"))).as("dist_sq"))
      val w = Window.partitionBy(col("cluster")).orderBy(col("dist_sq").desc, col(idCol))
      val out = comp.select(col("cluster"), col("doc_id").as(idCol))
        .join(dist, idCol)
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("cluster"), col(idCol), col("dist_sq"), col("keep"))
      // materialize before releasing the assignment cache the plan reads 3×
      out.localCheckpoint(true)
    } finally assigned.unpersist()
  }

  /** [[semDedup]] with k derived from the corpus: k = ⌈n / targetClusterSize⌉,
    * so per-cluster pair work stays ~targetClusterSize²/2 no matter how
    * large the corpus grows — the 100 TB-safe way to call SemDeDup. The
    * count is one column-pruned scan (parquet answers it from footer
    * metadata); k is then a driver-side integer. */
  def semDedupAuto(corpus: DataFrame, targetClusterSize: Long, iters: Int,
                   tauE4: Long, idCol: String = "vec_id",
                   embCol: String = "embedding",
                   pairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    require(targetClusterSize > 0, "semDedupAuto: targetClusterSize must be positive")
    val n = corpus.count()
    val kLong = math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)
    require(kLong <= Int.MaxValue,
      s"semDedupAuto: derived k=$kLong exceeds Int.MaxValue " +
        s"($n rows / targetClusterSize=$targetClusterSize) — raise targetClusterSize")
    semDedup(corpus, kLong.toInt, iters, tauE4, idCol, embCol, pairBudget)
  }

  /** Exact re-rank of an ANN shortlist — stage two of the standard
    * two-stage serving pipeline (compressed-code recall stage → exact
    * precision stage). The shortlist (q_id, neighbor_id) is broadcast into
    * the corpus scan, so the corpus is filtered to shortlist members
    * without shuffling; only |Q|·shortlistK raw vectors are ever scored
    * exactly. Final ranking uses the full-precision quantized cosine. */
  def rerankExact(queries: DataFrame, corpus: DataFrame, shortlist: DataFrame,
                  k: Int, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    val sl = broadcast(shortlist.select(col("q_id"), col("neighbor_id")))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), quantize(col(embCol)).as("__ce"))
      .join(sl, Seq("neighbor_id"))
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), quantize(col(embCol)).as("__qe")))
    val scored = c.join(q, Seq("q_id"))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qcosine(col("__qe"), col("__ce")), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("cos_e4"),
        col("rank").cast("int").as("rank"))
  }

  /** IVFADC — the full FAISS-shaped serving stack: coarse inverted lists
    * prune candidates (corpus assigned once at ingest, queries probe
    * `probes` lists), PQ codes score them (ADC over raw vectors; the
    * residual-encoding refinement is a model choice this oracle-exact
    * variant omits). Query-side cost ≈ corpus/nlists × probes vectors
    * scored per query, each through m code lookups — candidate pruning ×
    * 16× compression composed, reading neither stored vectors nor
    * anything wider than (sub, label) ints on the serving path. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, coarse: DataFrame,
                codebooks: DataFrame, k: Int, probes: Int = 2,
                m: Int = 4, dim: Int = 64,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // the composed rows an AnnIndex IVF+PQ store persists: each vector's
    // m PQ codes plus its coarse list — derived here ad hoc, then served
    // through the same query path as the store (one code path to trust)
    val codes = pqEncode(corpus, codebooks.select("sub", "label", "ce"),
        m, dim, idCol, embCol)
      .join(ivfAssign(corpus, coarse, probes = 1, idCol, embCol)
        .select(col(idCol), col("label").as("clist")), Seq(idCol))
    ivfPqTopKFromCodes(queries, codes, coarse, codebooks, k, probes, m, dim,
      idCol, embCol)
  }

  /** The IVFADC query path against ALREADY-STORED composed rows —
    * (idCol, clist, sub, label), e.g. read back from an [[AnnIndex]]
    * IVF+PQ store (clist = the vector's coarse inverted list, label =
    * its codebook entry per subspace). Serving computes nothing per call
    * beyond the tiny query side: the query's probed lists, its m·k ADC
    * lookup table, and its norm all broadcast; the stored side reads
    * nothing wider than three ints per (vector, subspace). `excludeSelf`
    * as in [[ivfTopKFromLists]]. */
  def ivfPqTopKFromCodes(queries: DataFrame, codes: DataFrame, coarse: DataFrame,
                         codebooks: DataFrame, k: Int, probes: Int = 2,
                         m: Int = 4, dim: Int = 64,
                         idCol: String = "vec_id", embCol: String = "embedding",
                         excludeSelf: Boolean = true): DataFrame = {
    val cb = codebooks.withColumn("cn2", qdot(col("ce"), col("ce")))
    val qList = broadcast(ivfAssign(queries, coarse, probes, idCol, embCol)
      .select(col(idCol).as("q_id"), col("label").as("clist")))
    val lut = broadcast(
      pqSliced(queries, m, dim, idCol, embCol)
        .withColumnRenamed(idCol, "q_id")
        .join(cb.select(col("sub"), col("label"), col("ce"), col("cn2")), Seq("sub"))
        .select(col("q_id"), col("sub"), col("label"),
          qdot(col("qe"), col("ce")).as("pd"), col("cn2")))
    val qn = broadcast(queries
      .select(col(idCol).as("q_id"), quantize(col(embCol)).as("__qe"))
      .select(col("q_id"), qdot(col("__qe"), col("__qe")).as("qn2")))
    // each corpus vector lives in exactly one list, so a (q, vec) pair
    // matches at most once — no distinct needed
    val aggd = codes.join(qList, Seq("clist"))
      .join(lut, Seq("q_id", "sub", "label"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("pd")).as("dot"), sum(col("cn2")).as("rn2"))
      .join(qn, Seq("q_id"))
    val scored = (if (excludeSelf) aggd.filter(col("q_id") =!= col(idCol)) else aggd)
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        col("dot") / (sqrt(col("qn2").cast("double")) * sqrt(col("rn2").cast("double"))), 4))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_e4").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col(idCol).as("neighbor_id"), col("cos_e4"),
        col("rank").cast("int").as("rank"))
  }

  /** Sign-bit words of a quantized vector: two longs holding the sign bits
    * of dims [0,32) and [32,64) (the 32-bit split keeps the oracle's
    * power-of-two reconstruction inside exact-double range — see
    * SignBitsWord). 64 dims → 16 bytes; Hamming distance between two
    * vectors is then two XOR+popcounts. */
  def signWords(df: DataFrame, id: String,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // two-step projection: quantize ONCE per row, then derive both words
    // from the materialized column. A single select would re-evaluate the
    // (non-codegen HOF) transform three times — CollapseProject leaves
    // multi-referenced non-cheap aliases alone, so this shape survives
    // optimization.
    val qe = s"${id}_qe"
    df.select(col(idCol).as(id), quantize(col(embCol)).as(qe))
      .select(col(id), col(qe),
        org.apache.spark.sql.graft.SignBitsWord(col(qe), 0, 32).as(s"${id}_w0"),
        org.apache.spark.sql.graft.SignBitsWord(col(qe), 32, 32).as(s"${id}_w1"))
  }

  /** Binary (sign-bit) Hamming search with exact re-rank — the standard
    * two-stage pattern for cheap ANN over float embeddings: compress every
    * vector to its 64 sign bits (16 bytes), shortlist the `shortlist`
    * Hamming-nearest candidates per query (two XOR+popcounts per pair
    * instead of a 64-term dot product), then re-rank the shortlist by the
    * exact quantized cosine and keep top `k`.
    *
    * Scale shape: one corpus scan computes the words inline (codegen'd,
    * no shuffle); the query side — ids, words, and quantized vectors for
    * the rerank — broadcasts. The shortlist window's rank-filter shape
    * triggers WindowGroupLimit: a PARTIAL group-limit runs map-side, so
    * each scan task forwards at most `shortlist` rows per query into the
    * exchange and the final window task holds ≤ shortlist·partitions
    * rows per query — never the corpus (HammingSpec pins the Partial
    * node). Sign-bit Hamming approximates angular distance (each
    * differing sign bit is a hyperplane the pair straddles), so recall@k
    * tracks the shortlist/k ratio. */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                  shortlist: Int = 20,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(signWords(queries, "q", idCol, embCol))
    val c = signWords(corpus, "c", idCol, embCol)
    val scored = c.join(q, col("q") =!= col("c"))
      .withColumn("hamming",
        (bit_count(col("q_w0").bitwiseXOR(col("c_w0"))) +
          bit_count(col("q_w1").bitwiseXOR(col("c_w1")))).cast("int"))
    val slw = Window.partitionBy(col("q")).orderBy(col("hamming"), col("c"))
    val sl = scored.withColumn("srk", row_number().over(slw))
      .filter(col("srk") <= shortlist)
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qcosine(col("q_qe"), col("c_qe")), 4))
    val w = Window.partitionBy(col("q")).orderBy(col("cos_e4").desc, col("c"))
    sl.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q").as("q_id"), col("c").as("neighbor_id"),
        col("hamming"), col("cos_e4"), col("rank").cast("int").as("rank"))
  }

  /** [[hammingTopK]] served from PERSISTED sign words — the AnnIndex
    * store path. `cWords` is the stored (c, c_w0, c_w1) projection:
    * the shortlist stage reads 16 bytes per vector (two longs; parquet
    * column pruning keeps the co-stored quantized embedding out of the
    * scan), instead of recomputing words from raw embeddings per query.
    * `cQe` — the stored (c, c_qe) projection — joins back AFTER the
    * shortlist filter, so exact quantized vectors are fetched only for
    * the |Q|·shortlist survivors (AQE broadcasts the tiny shortlist
    * side). Value-identical to [[hammingTopK]] over the same corpus:
    * same tie-breaks, same windows, same output columns. */
  def hammingTopKFromWords(queries: DataFrame, cWords: DataFrame, cQe: DataFrame,
                           k: Int, shortlist: Int = 20,
                           idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(signWords(queries, "q", idCol, embCol))
    val scored = cWords.join(q, col("q") =!= col("c"))
      .withColumn("hamming",
        (bit_count(col("q_w0").bitwiseXOR(col("c_w0"))) +
          bit_count(col("q_w1").bitwiseXOR(col("c_w1")))).cast("int"))
    val slw = Window.partitionBy(col("q")).orderBy(col("hamming"), col("c"))
    val sl = scored.withColumn("srk", row_number().over(slw))
      .filter(col("srk") <= shortlist)
      .join(cQe, Seq("c"))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qcosine(col("q_qe"), col("c_qe")), 4))
    val w = Window.partitionBy(col("q")).orderBy(col("cos_e4").desc, col("c"))
    sl.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q").as("q_id"), col("c").as("neighbor_id"),
        col("hamming"), col("cos_e4"), col("rank").cast("int").as("rank"))
  }

  /** Hamming recall-vs-shortlist curve: mean recall@k of [[hammingTopK]]
    * against the exact cosine ranking, one row per shortlist size — the
    * "choose the shortlist" tuning input for the sign-bit family, closing
    * the tuning-curve suite (vocab sizes for BPE, probes for IVF,
    * shortlist for Hamming): where the curve flattens, a larger shortlist
    * only costs rerank dot products.
    *
    * Plan: the Hamming-scored frame is computed ONCE and ranked at the
    * LARGEST shortlist — a smaller shortlist is a prefix filter (srk ≤ s)
    * of the same ranked frame, so every curve point shares one corpus
    * scan and one shortlist window, and the rerank windows run over
    * shortlist-sized survivors only. The exact top-k (the expensive
    * |Q|·corpus side) is persisted across points. Value-identical per
    * point to running [[hammingTopK]] at that shortlist (same windows,
    * same tie-breaks). Counts exact integers; one division at the end. */
  def hammingRecallCurve(queries: DataFrame, corpus: DataFrame, k: Int,
                         shortlists: Seq[Int],
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(shortlists.nonEmpty, "shortlists must be non-empty")
    val exact = bruteForceTopK(queries, corpus, k, idCol, embCol)
      .select(col("q_id"), col("neighbor_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val q = broadcast(signWords(queries, "q", idCol, embCol))
    val c = signWords(corpus, "c", idCol, embCol)
    val scored = c.join(q, col("q") =!= col("c"))
      .withColumn("hamming",
        (bit_count(col("q_w0").bitwiseXOR(col("c_w0"))) +
          bit_count(col("q_w1").bitwiseXOR(col("c_w1")))).cast("int"))
    val slw = Window.partitionBy(col("q")).orderBy(col("hamming"), col("c"))
    val ranked = scored.withColumn("srk", row_number().over(slw))
      .filter(col("srk") <= shortlists.max)
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qcosine(col("q_qe"), col("c_qe")), 4))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    val out = shortlists.map { s =>
      val w = Window.partitionBy(col("q")).orderBy(col("cos_e4").desc, col("c"))
      ranked.filter(col("srk") <= s)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("q").as("q_id"), col("c").as("neighbor_id"))
        .join(exact, Seq("q_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .join(broadcast(nq), lit(true))
        .select(lit(s.toLong).as("shortlist"), col("n_queries"), col("n_hits"),
          expr(s"n_hits * 10000L div (n_queries * ${k}L)").as("recall_e4"))
    }.reduce(_.unionByName(_)).localCheckpoint(true)
    ranked.unpersist()
    exact.unpersist()
    out
  }

  /** k-NN density per vector: the cosine of each vector's k-th nearest
    * neighbor WITHIN ITS IVF LIST (probes=1) — the local-density /
    * redundancy score behind density-based corpus pruning (D4/SSL-
    * prototypes style): a HIGH k-th-neighbor cosine means the vector sits
    * in a dense clump (redundant — a candidate to downsample), a LOW one
    * means it is locally novel (keep), and the per-point complement of
    * q60's global centroid-distance outliers and q97's cluster-level
    * semantic dedup. Vectors whose list has fewer than k+1 members report
    * the cosine of their FARTHEST in-list neighbor instead (rank
    * min(k, n_list−1)); list singletons report null — undefined density
    * is surfaced, never invented.
    *
    * Scale shape: candidate pairs never leave a coarse list, so the pair
    * stage is Σ|list|² — bounded by the centroid count, which is the
    * caller's scale knob (more lists as the corpus grows, the standard
    * IVF contract; [[kmeansCentroids]] learns them). GUARDED like
    * [[semDedup]]: a census over the assignment refuses when the implied
    * pair count exceeds `pairBudget`, naming the fix; opt out with
    * `pairBudget <= 0`. The rank filter is rk ≤ k then rk = min(k,
    * n_list−1), so per-vector window state is list-bounded and the
    * sizes frame (list-cardinality) broadcasts. */
  /** [[knnDensity]] with the centroid count derived from the corpus —
    * nLists = ⌈n / targetListSize⌉, [[kmeansCentroids]] learns them — the
    * same scale rule as [[semDedupAuto]]: per-list pair work stays
    * ~targetListSize²/2 no matter how large the corpus grows, so the
    * operator's Σ|list|² stage scales LINEARLY with the corpus (n ·
    * targetListSize pairs total) instead of quadratically under a fixed
    * hand-picked centroid count. The count is one column-pruned scan; the
    * derived nLists is a driver-side integer. The 100 TB-safe way to call
    * the density scorer — a caller who fixes 10 lists forever pays
    * (n/10)² per list as the corpus grows; this keeps each list at
    * targetListSize regardless. */
  def knnDensityAuto(df: DataFrame, targetListSize: Long, iters: Int, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     pairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    require(targetListSize > 0, "knnDensityAuto: targetListSize must be positive")
    val n = df.count()
    val listsLong = math.max(1L, (n + targetListSize - 1) / targetListSize)
    require(listsLong <= Int.MaxValue,
      s"knnDensityAuto: derived nLists=$listsLong exceeds Int.MaxValue " +
        s"($n rows / targetListSize=$targetListSize) — raise targetListSize")
    knnDensity(df, kmeansCentroids(df, listsLong.toInt, iters, idCol, embCol),
      k, idCol, embCol, pairBudget)
  }

  def knnDensity(df: DataFrame, centroids: DataFrame, k: Int,
                 idCol: String = "vec_id", embCol: String = "embedding",
                 pairBudget: Long = PairCensus.DefaultBudget): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(k >= 1, "k must be >= 1")
    val lists = ivfAssign(df, centroids, probes = 1, idCol, embCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = lists.groupBy(col("label")).agg(count(lit(1)).as("n_list"))
    if (pairBudget > 0)
      PairCensus(sizes, "n_list").enforce("knnDensity", pairBudget,
        () => lists.unpersist()) { c =>
        s"${c.pairs} within-list pairs exceed the budget " +
          s"$pairBudget (largest list: ${c.hottest} members). " +
          "The pair stage is Σ|list|² — pass MORE centroids (the IVF " +
          "contract: lists per corpus size; kmeansCentroids learns them) " +
          "or opt in explicitly with pairBudget <= 0."
      }
    val a = lists.select(col("label"), col(idCol).as("a_id"),
      col("__qe").as("a_emb"), col("__n").as("a_n"))
    val b = lists.select(col("label"), col(idCol).as("b_id"),
      col("__qe").as("b_emb"), col("__n").as("b_n"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("cos_e4").desc, col("b_id"))
    val kth = a.join(b, Seq("label")).filter(col("a_id") =!= col("b_id"))
      .withColumn("cos_e4", graft.functions.TextFunctions.fixedPoint(
        qdot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 4))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .join(broadcast(sizes), Seq("label"))
      .filter(col("rk") === least(lit(k.toLong), col("n_list") - 1))
      .select(col("a_id").as(idCol), col("cos_e4").as("kth_cos_e4"))
    val out = lists.select(col(idCol), col("label"))
      .join(broadcast(sizes), Seq("label"))
      .join(kth, Seq(idCol), "left_outer")
      .select(col(idCol), col("label"), col("n_list"), col("kth_cos_e4"))
      .localCheckpoint(true)
    lists.unpersist()
    out
  }
}
