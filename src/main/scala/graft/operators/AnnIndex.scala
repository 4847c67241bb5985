package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Warehouse

/** Persistent ANN index lifecycle over the [[Warehouse]] — the serving
  * store that turns the ad-hoc IVF path into production shape: the
  * corpus is quantized and assigned to inverted lists ONCE at build,
  * and queries probe the stored lists without ever touching raw
  * embeddings again. Every store below (IVF, PQ, IVF+PQ, IVF+SQ8,
  * Hamming) is written by its `build*` and read by its `topK*`.
  *
  * Only the IVF lists take appends: [[append]] assigns ONLY the arriving
  * batch against the stored centroids. Two tables per IVF index:
  * `<name>_centroids` (label, ce) and `<name>_lists` (id, label, qe, n).
  * Because an IVF assignment depends only on the centroids,
  * append-then-query is EXACTLY equal to rebuild-on-the-union — the
  * invariant AnnIndexSpec pins — so the index never needs a rebuild for
  * correctness, only (eventually) for recall as the data distribution
  * drifts from the frozen centroids.
  *
  * 100 TB shape: build is one assignment scan (centroids broadcast);
  * an IVF append is O(batch); a query touches ~|lists probed| stored rows per
  * query vector with the query side broadcast — the store itself never
  * shuffles. The lists/codes tables are hive-partitioned by `label`, so
  * a serving read with `probes` lists scans only the probed partition
  * directories — the scan prunes with the index, it never widens with
  * the corpus (AnnIndexSpec pins the pruned file set).
  *
  * ID-COLLISION HAZARD: `topK`/`topKPq` default to `excludeSelf = true`
  * (drop candidates whose id equals the query id) — correct when queries
  * are drawn from the indexed corpus, as in q120/q121. A serving
  * deployment whose query ids come from an UNRELATED id space must pass
  * `excludeSelf = false`, or any stored vector that happens to share an
  * id with a query is silently dropped from that query's top-k.
  */
object AnnIndex {

  private def centroidsTable(name: String) = s"${name}_centroids"
  private def listsTable(name: String) = s"${name}_lists"

  /** Create (or replace) the index: store the centroid table and the
    * one-time inverted-list assignment of `corpus`. `centroids` come
    * from the caller — `Similarity.kmeansCentroids` (learned) or
    * `Similarity.ivfCentroids` (label-derived) — so the clustering
    * policy stays a composable choice, not an index parameter. */
  def build(wh: Warehouse, schema: String, name: String, corpus: DataFrame,
            centroids: DataFrame, idCol: String = "vec_id",
            embCol: String = "embedding"): Unit = {
    wh.overwrite(schema, centroidsTable(name), centroids.select(col("label"), col("ce")))
    // hive-partition the lists by label: a serving read of `probes` lists
    // scans only the probed partition dirs (sticky — appends keep it)
    wh.overwrite(schema, listsTable(name),
      assign(wh, schema, name, corpus, idCol, embCol), partitionBy = Seq("label"))
  }

  /** Assign ONLY the arriving batch against the stored centroids and
    * append it to the lists table — O(batch), the corpus never re-signs. */
  def append(wh: Warehouse, schema: String, name: String, newVectors: DataFrame,
             idCol: String = "vec_id", embCol: String = "embedding"): Unit =
    wh.append(schema, listsTable(name),
      assign(wh, schema, name, newVectors, idCol, embCol))

  private def assign(wh: Warehouse, schema: String, name: String, vectors: DataFrame,
                     idCol: String, embCol: String): DataFrame =
    Similarity.ivfAssign(vectors,
        wh.read(schema, centroidsTable(name)), probes = 1, idCol, embCol)
      .select(col(idCol).as("id"), col("label"),
        col("__qe").as("qe"), col("__n").as("n"))

  /** Top-k from the stored lists: queries assign against the stored
    * centroids (broadcast), probe their `probes` nearest lists, and rank
    * candidates by the exact quantized cosine — identical results to
    * `Similarity.ivfTopK` over the same corpus and centroids.
    *
    * The probed labels are resolved FIRST (one tiny query-side assignment
    * — |Q|·probes ints on the driver, the same bounded-collect class as
    * the hyperplane table) and pushed as a STATIC partition filter, so
    * the lists scan lists only the probed `label=` directories. Dynamic
    * partition pruning would reach the same files, but a static filter
    * prunes at planning time and is assertable (AnnIndexSpec reads the
    * scan's selected partitions). */
  def topK(wh: Warehouse, schema: String, name: String, queries: DataFrame,
           k: Int, probes: Int = 2, idCol: String = "vec_id",
           embCol: String = "embedding", excludeSelf: Boolean = true): DataFrame = {
    val cents = wh.read(schema, centroidsTable(name))
    val probed = Similarity.ivfAssign(queries, cents, probes, idCol, embCol)
      .select(col("label")).distinct().collect().map(_.get(0))
    val lists = wh.read(schema, listsTable(name))
      .filter(col("label").isInCollection(probed))
      .select(col("id").as(idCol), col("label"),
        col("qe").as("__qe"), col("n").as("__n"))
    Similarity.ivfTopKFromLists(queries, lists, cents, k, probes, idCol, embCol,
      excludeSelf)
  }

  /** Inverted-list occupancy report from the STORED index — the
    * maintenance monitor a serving deployment runs after appends: list
    * sizes, share of the corpus, and skew vs the uniform ideal
    * (skew_e4 = n·nlists/total, 10000 = perfectly balanced). Empty lists
    * (a centroid no vector chose) report n = 0 — a probe of that list
    * scans nothing, but many empties mean the centroids no longer fit
    * the data; a hot list (skew ≫ 1) means probes that hit it scan far
    * more than corpus/nlists. Together with [[Similarity.centroidDrift]]
    * this is the rebuild-for-recall decision input. Integer/e4-exact:
    * one groupBy over the (label-pruned-width) lists scan, joined to the
    * centroid table at list granularity. */
  def stats(wh: Warehouse, schema: String, name: String): DataFrame = {
    val counts = wh.read(schema, listsTable(name))
      .groupBy(col("label")).agg(count(lit(1)).as("n_vectors"))
    val lists = wh.read(schema, centroidsTable(name)).select(col("label"))
    val nLists = lists.count()
    val sized = lists.join(counts, Seq("label"), "left")
      .select(col("label"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
    val total = broadcast(sized.agg(sum(col("n_vectors")).as("__total")))
    sized.join(total, lit(true))
      .select(col("label"), col("n_vectors"),
        graft.functions.TextFunctions.fixedPoint(
          col("n_vectors") / col("__total"), 4).as("share_e4"),
        graft.functions.TextFunctions.fixedPoint(
          col("n_vectors") * lit(nLists) / col("__total"), 4).as("skew_e4"))
  }

  // ---- PQ variant: 16× smaller stored payload (m code ints per vector
  // instead of the quantized embedding), ADC serving off the codes alone.
  // Codes depend only on the codebooks, frozen in the store at build.

  private def codebooksTable(name: String) = s"${name}_codebooks"
  private def codesTable(name: String) = s"${name}_codes"

  /** Store the PQ codebooks and the one-time code assignment of `corpus`.
    * `codebooks` from `Similarity.pqCodebooks` — (sub, label, ce). */
  def buildPq(wh: Warehouse, schema: String, name: String, corpus: DataFrame,
              codebooks: DataFrame, m: Int, dim: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    wh.overwrite(schema, codebooksTable(name),
      codebooks.select(col("sub"), col("label"), col("ce")))
    // partitioned by subspace: plain ADC reads every code by design (the
    // label here is a codebook entry, not a coarse list — candidate
    // pruning is the IVF stage's job), but per-subspace maintenance
    // (rebuild one codebook, audit one subspace) prunes to its dir
    wh.overwrite(schema, codesTable(name),
      Similarity.pqEncode(corpus, wh.read(schema, codebooksTable(name)),
          m, dim, idCol, embCol)
        .select(col(idCol).as("id"), col("sub"), col("label")),
      partitionBy = Seq("sub"))
  }

  /** ADC top-k from the stored codes — identical results to
    * `Similarity.pqTopK` over the same corpus and codebooks. No partition
    * prune here: plain ADC scores every stored code (see [[buildPq]]);
    * [[buildIvfPq]]/[[topKIvfPq]] is the candidate-pruned composition. */
  def topKPq(wh: Warehouse, schema: String, name: String, queries: DataFrame,
             k: Int, m: Int, dim: Int, idCol: String = "vec_id",
             embCol: String = "embedding", excludeSelf: Boolean = true): DataFrame =
    Similarity.pqTopKFromCodes(queries,
      wh.read(schema, codesTable(name)).select(col("id").as(idCol), col("sub"), col("label")),
      wh.read(schema, codebooksTable(name)), k, m, dim, idCol, embCol,
      excludeSelf)

  // ---- composed IVF+PQ store (IVFADC): coarse lists prune candidates,
  // PQ codes score them. The stored rows carry each vector's coarse list
  // NEXT TO its m codes and are hive-partitioned by that list, so a
  // probes=p serving read scans only the probed `clist=` directories —
  // candidate pruning happens in the FILE LISTING, not after a full code
  // scan (plain topKPq reads every code by design). Both the coarse
  // assignment and the codes depend only on the frozen centroids and
  // codebooks.

  private def ivfPqCodesTable(name: String) = s"${name}_ivfpq_codes"

  /** Store coarse centroids + codebooks + the one-time composed
    * (id, sub, label, clist) encoding of `corpus`, partitioned by clist. */
  def buildIvfPq(wh: Warehouse, schema: String, name: String, corpus: DataFrame,
                 coarse: DataFrame, codebooks: DataFrame, m: Int, dim: Int,
                 idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    wh.overwrite(schema, centroidsTable(name), coarse.select(col("label"), col("ce")))
    wh.overwrite(schema, codebooksTable(name),
      codebooks.select(col("sub"), col("label"), col("ce")))
    wh.overwrite(schema, ivfPqCodesTable(name),
      Similarity.pqEncode(corpus, wh.read(schema, codebooksTable(name)),
          m, dim, idCol, embCol)
        .join(Similarity.ivfAssign(corpus, wh.read(schema, centroidsTable(name)),
            probes = 1, idCol, embCol)
          .select(col(idCol), col("label").as("clist")), Seq(idCol))
        .select(col(idCol).as("id"), col("sub"), col("label"), col("clist")),
      partitionBy = Seq("clist"))
  }

  /** IVFADC top-k from the store — identical results to
    * `Similarity.ivfPqTopK` over the same corpus, coarse centroids, and
    * codebooks. Probed coarse lists are resolved FIRST (the same bounded
    * query-side collect as [[topK]]) and pushed as a STATIC partition
    * filter, so the codes scan lists only the probed `clist=` dirs — a
    * probes=2 query batch reads 2 directories of (id, sub, label) ints,
    * never the corpus. */
  def topKIvfPq(wh: Warehouse, schema: String, name: String, queries: DataFrame,
                k: Int, probes: Int = 2, m: Int = 4, dim: Int = 64,
                idCol: String = "vec_id", embCol: String = "embedding",
                excludeSelf: Boolean = true): DataFrame = {
    val cents = wh.read(schema, centroidsTable(name))
    val probed = Similarity.ivfAssign(queries, cents, probes, idCol, embCol)
      .select(col("label")).distinct().collect().map(_.get(0))
    val codes = wh.read(schema, ivfPqCodesTable(name))
      .filter(col("clist").isInCollection(probed))
      .select(col("id").as(idCol), col("sub"), col("label"), col("clist"))
    Similarity.ivfPqTopKFromCodes(queries, codes, cents,
      wh.read(schema, codebooksTable(name)), k, probes, m, dim,
      idCol, embCol, excludeSelf)
  }

  // ---- composed IVF+SQ8 store: coarse lists prune, byte codes (4× over
  // raw floats) reconstruct-and-score. The frozen model is the
  // (centroids, bounds) pair — per-dim corpus bounds are as much a model
  // artifact as a codebook, so they freeze at build and the corpus
  // encodes against the stored pair, as PQ against its codebooks.

  private def sq8BoundsTable(name: String) = s"${name}_sq8_bounds"
  private def sq8CodesTable(name: String) = s"${name}_sq8_codes"

  /** Store coarse centroids + per-dim bounds + the composed
    * (id, label, sq_codes) encoding of `corpus`, partitioned by label.
    * `bounds` from `Similarity.sq8Bounds(corpus)` — frozen at build. */
  def buildSq8(wh: Warehouse, schema: String, name: String, corpus: DataFrame,
               centroids: DataFrame, bounds: DataFrame,
               idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    wh.overwrite(schema, centroidsTable(name), centroids.select(col("label"), col("ce")))
    wh.overwrite(schema, sq8BoundsTable(name), bounds.select(col("lo"), col("hi")))
    wh.overwrite(schema, sq8CodesTable(name),
      Similarity.ivfSq8Encode(corpus,
          wh.read(schema, centroidsTable(name)),
          wh.read(schema, sq8BoundsTable(name)), idCol, embCol)
        .select(col(idCol).as("id"), col("label"), col("sq_codes")),
      partitionBy = Seq("label"))
  }

  /** IVF+SQ8 top-k from the store — identical results to
    * `Similarity.ivfSq8TopK` over the same corpus, centroids, and bounds.
    * Probed labels resolve first and push as a static partition filter
    * (the [[topK]]/[[topKIvfPq]] pattern): serving scans only the probed
    * `label=` dirs of byte codes, never raw embeddings. */
  def topKSq8(wh: Warehouse, schema: String, name: String, queries: DataFrame,
              k: Int, probes: Int = 2, idCol: String = "vec_id",
              embCol: String = "embedding", excludeSelf: Boolean = true): DataFrame = {
    val cents = wh.read(schema, centroidsTable(name))
    val probed = Similarity.ivfAssign(queries, cents, probes, idCol, embCol)
      .select(col("label")).distinct().collect().map(_.get(0))
    val codes = wh.read(schema, sq8CodesTable(name))
      .filter(col("label").isInCollection(probed))
      .select(col("id").as(idCol), col("label"), col("sq_codes"))
    Similarity.ivfSq8TopKFromCodes(queries, codes, cents,
      wh.read(schema, sq8BoundsTable(name)), k, probes, idCol, embCol, excludeSelf)
  }

  // ---- binary sign-word store: 16 bytes of Hamming shortlist state per
  // vector, with the quantized embedding co-stored for the exact rerank.
  // Sign words are a pure row-local function of the vector (centroid- and
  // codebook-independent): no frozen model state exists to drift from.

  private def signsTable(name: String) = s"${name}_signs"

  /** Store (id, w0, w1, qe) for every corpus vector — one row-local
    * signing scan. Serving shortlists from (id, w0, w1) alone (parquet
    * column pruning keeps `qe` out of that scan: 16 B/vector of IO) and
    * fetches `qe` only for shortlisted candidates. */
  def buildHamming(wh: Warehouse, schema: String, name: String, corpus: DataFrame,
                   idCol: String = "vec_id", embCol: String = "embedding"): Unit =
    wh.overwrite(schema, signsTable(name),
      Similarity.signWords(corpus, "c", idCol, embCol)
        .select(col("c").as("id"), col("c_w0").as("w0"), col("c_w1").as("w1"),
          col("c_qe").as("qe")))

  /** Binary-shortlist + exact-rerank top-k from the stored sign words —
    * identical results to `Similarity.hammingTopK` over the same corpus.
    * The Hamming stage scans only (id, w0, w1); `qe` joins back for the
    * |Q|·shortlist survivors. */
  def topKHamming(wh: Warehouse, schema: String, name: String, queries: DataFrame,
                  k: Int, shortlist: Int = 20, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    val t = wh.read(schema, signsTable(name))
    Similarity.hammingTopKFromWords(queries,
      t.select(col("id").as("c"), col("w0").as("c_w0"), col("w1").as("c_w1")),
      t.select(col("id").as("c"), col("qe").as("c_qe")),
      k, shortlist, idCol, embCol)
  }
}
