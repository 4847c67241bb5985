package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the step that turns
  * near-duplicate PAIRS (MinHash/SimHash/embedding output) into dedup
  * CLUSTERS so a curation pipeline can keep one canonical document per
  * group. (The reference's dedup surface stops at pairs; any production
  * corpus pipeline needs the component step to actually drop rows.)
  *
  * Algorithm: a driver-side union-find when the edge set fits
  * [[Clusters.DriverEdgeCap]] (every registry query's graph does), else
  * large-star/small-star contraction ([[Clusters.starComponents]]), which
  * reaches its fixed point in at most 2·log₂ n + 4 rounds whatever the
  * graph's diameter.
  */
object Clusters {

  /** Edge-count ceiling for the driver-side union-find shortcut: 1M edges
    * of two longs ≈ 16 MB on the driver — the same bounded-sketch budget
    * class as the Bloom bitmap and BPE merge tables. Below it, an
    * iterative distributed algorithm pays 10+ scheduler round-trips to
    * cluster a registry-scale graph a single core resolves in
    * milliseconds; above it, the distributed path takes over untouched. */
  val DriverEdgeCap: Int = 1 << 20

  /** (id, cluster) for every node that appears in `edges`; cluster = the
    * minimum node id reachable in the undirected graph.
    *
    * Two paths, tried in order: a capped driver-side union-find when the
    * (probed) edge set fits `driverEdgeCap` — near-dup graphs AFTER
    * banding+verify are usually registry-scale even when the corpus is
    * not — then large-star/small-star (O(log n) rounds for ANY graph,
    * incl. pathological chains). Both compute the identical
    * (id, min-reachable-id) result; which one ran is invisible to callers. */
  def connectedComponents(edges: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id",
                          driverEdgeCap: Int = DriverEdgeCap): DataFrame =
    // probe on the RAW frame first: the limit(cap+1) collect early-exits
    // as soon as cap+1 rows exist, and when the driver path wins (the
    // common registry-scale case) nothing was materialized at all.
    // Only a graph that overflows the cap pays a one-time checkpoint —
    // there the distributed rounds rescan the edge set O(rounds) times,
    // which is exactly when cutting the pair lineage earns its keep.
    // (localCheckpoint is executor-memory-resident, not fault-tolerant:
    // a long-lived cluster deployment that must survive executor loss
    // should set a reliable spark.checkpoint.dir and swap these for
    // df.checkpoint — same plan shape, durable blocks.)
    driverComponents(edges.select(col(aCol), col(bCol)), aCol, bCol,
        driverEdgeCap).getOrElse {
      starComponents(edges.select(col(aCol), col(bCol)).localCheckpoint(true),
        aCol, bCol)
    }

  /** Union-find on the driver for integral-id graphs under `DriverEdgeCap`
    * edges; None when ids aren't integral, any edge id is NULL (the
    * distributed path's null semantics apply, whatever they are — this
    * path must not invent its own), or the cap probe overflows (the probe
    * is a limit(cap+1) collect straight off the caller's edge lineage —
    * an early-exit scan, never a full count of a huge graph). Cluster = min
    * reachable id, and the output id/cluster columns carry the SAME type
    * the distributed path would produce, so which path ran stays
    * invisible to schema-sensitive consumers. */
  private def driverComponents(edges: DataFrame, aCol: String,
                               bCol: String, cap: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    if (cap <= 0) return None
    val inTypes = Seq(aCol, bCol).map(edges.schema(_).dataType)
    if (!inTypes.forall(t => t == LongType || t == IntegerType)) return None
    // the distributed path unions both id columns → Spark's common type
    val outType = if (inTypes.contains(LongType)) LongType else IntegerType
    val probe = edges
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .limit(cap + 1).collect()
    if (probe.length > cap) return None
    if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // union-find, roots track the component minimum (attach larger-min
    // root beneath smaller-min root; path compression on find)
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    probe.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val out = parent.keysIterator.map(id => (id, find(id))).toSeq
    val spark = edges.sparkSession
    Some(spark.createDataFrame(out).toDF("id", "cluster")
      .select(col("id").cast(outType), col("cluster").cast(outType)))
  }

  /** Large-star/small-star components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): edges contract onto component
    * minima in O(log n) alternating rounds REGARDLESS of diameter — a
    * 10k-node path needs ~2·log₂ n rounds where min-label propagation
    * would need 10k. Each round is two grouped aggregations + joins on
    * uniform node keys (no driver data path); per-round state is the
    * O(|E|) oriented edge frame, lineage-cut per round. Convergence = the
    * oriented edge set reaching a fixed point (then it IS the star
    * forest: every node points at its component minimum). */
  private[graft] def starComponents(edges: DataFrame, aCol: String,
                                        bCol: String): DataFrame = {
    val nodes = edges.select(col(aCol).as("id"))
      .unionByName(edges.select(col(bCol).as("id")))
      .distinct().localCheckpoint(true)
    // orient every edge (hi, lo), drop self-loops
    var e = edges.select(col(aCol).as("x"), col(bCol).as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct().localCheckpoint(true)
    val n = math.max(2L, nodes.count())
    val maxRounds = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1)).toInt + 4
    var it = 0
    var converged = e.isEmpty
    while (!converged && it < maxRounds) {
      // large-star: per node x (symmetric view), every STRICTLY LARGER
      // neighbor y links to m(x) = min(neighbors ∪ {x}); y > x ≥ m keeps
      // the (hi, lo) orientation
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionByName(e.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy(col("x")).agg(min(col("y")).as("my"))
        .select(col("x"), least(col("x"), col("my")).as("m"))
      val ls = sym.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: per node u over its SMALLER neighbors v (that is every
      // edge, given the orientation): all of them plus u link to the min
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withMin = ls.join(mins2, "u")
      val ss = withMin
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // fixed point: distinct oriented sets of equal size with an empty
      // difference are equal — then every edge already points at a root
      converged = ss.count() == e.count() &&
        ss.exceptAll(e).limit(1).count() == 0L
      e = ss
      it += 1
    }
    require(converged || it < maxRounds,
      s"starComponents did not reach a fixed point in $maxRounds rounds")
    nodes.join(e.select(col("u").as("id"), col("v").as("cluster")), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Deterministic integer PageRank over a bipartite edge set (a, b) —
    * link-graph authority as a quality/importance signal, with every step
    * in e4 fixed point so the result is bit-identical in any engine or
    * partitioning. Ranks start at 10000; a "push" sends each a-node's rank
    * equally to its b-neighbors with damping 0.85:
    *
    *   rank_b = 1500 + (8500 · Σ_{a→b} (rank_a DIV deg_a)) DIV 10000
    *
    * and between a→b pushes the mirror b→a push runs. `pushes` counts a→b
    * phases (the oracle unrolls them). Per push: one join of the edge list
    * with the node-sized rank frame on the shared key + one groupBy — two
    * shuffles, nothing driver-side; `localCheckpoint` cuts the per-push
    * lineage exactly like kmeansCentroids. Nodes without edges are not
    * ranked (dangling-mass redistribution is out of scope — document
    * collections care about relative order, which floors preserve).
    * Returns b-side ranks: (bCol, rank_e4). */
  def bipartiteRank(edges: DataFrame, aCol: String, bCol: String,
                    pushes: Int = 2): DataFrame = {
    require(pushes >= 1, "need at least one push")
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .distinct().localCheckpoint(true) // scanned every push
    val degA = e.groupBy(col("a")).agg(count(lit(1)).as("da")).localCheckpoint(true)
    // lazy: pushes == 1 never runs a b→a phase, and localCheckpoint(true)
    // is EAGER — computing degB unconditionally would burn a full shuffle
    // over the edge list just to discard it
    lazy val degB = e.groupBy(col("b")).agg(count(lit(1)).as("db")).localCheckpoint(true)
    var rA = degA.select(col("a"), lit(10000L).as("ra"))
    var rB: DataFrame = null
    for (i <- 1 to pushes) {
      rB = e.join(degA, "a").join(rA, "a")
        .withColumn("c", expr("ra DIV da"))
        .groupBy(col("b")).agg(expr("1500 + (8500 * sum(c)) DIV 10000").as("rb"))
        .localCheckpoint(true)
      if (i < pushes)
        rA = e.join(degB, "b").join(rB, "b")
          .withColumn("c", expr("rb DIV db"))
          .groupBy(col("a")).agg(expr("1500 + (8500 * sum(c)) DIV 10000").as("ra"))
          .localCheckpoint(true)
    }
    rB.select(col("b").as(bCol), col("rb").as("rank_e4"))
  }

  /** Per-document dedup verdict for every doc in a near-dup component of
    * size ≥ 2: (cluster, doc id, canonical?) where the canonical doc is
    * the cluster minimum (deterministic keep-lowest-id policy, matching
    * `Dedup.exactDedup`). Documents in no pair are implicitly their own
    * canonical singleton and are not emitted. */
  def dedupClusters(pairs: DataFrame, aCol: String = "a_id",
                    bCol: String = "b_id"): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .select(col("cluster"), col("id").as("doc_id"),
        (col("id") === col("cluster")).as("is_canonical"))

  /** Incremental clustering: merge NEW near-dup pairs into STORED cluster
    * labels without re-reading history's pair sets. Each stored component
    * enters the graph as STAR EDGES (label, member) — a spanning star
    * preserves connectivity exactly, and because [[dedupClusters]] labels
    * every component by its min member id, the star center IS that min,
    * so the merged min-id labeling equals a full recompute over
    * (historical pairs ∪ new pairs). New pairs can attach fresh docs to a
    * stored component, merge two stored components, or form new ones —
    * all three are just edges to the same CC pass.
    *
    * Scale shape: per-batch cost is CC over (stored components + new
    * pairs) — O(affected graph), never O(history). Pairs with q99's
    * incremental pair stage ([[graft.operators.Dedup.nearDupPairsIncremental]]):
    * signatures come from storage, pairs touch the batch, and clustering
    * folds them into the label store — the full per-batch dedup serving
    * path. */
  def dedupClustersIncremental(priorLabels: DataFrame, newPairs: DataFrame,
                               aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val stars = priorLabels.filter(col("doc_id") =!= col("cluster"))
      .select(col("cluster").as(aCol), col("doc_id").as(bCol))
    dedupClusters(stars.unionByName(newPairs.select(col(aCol), col(bCol))), aCol, bCol)
  }
}
