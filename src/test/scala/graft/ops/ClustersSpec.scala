package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Clusters

/** Connected components: hand-built graphs with known component structure,
  * convergence past the per-round horizon, and canonical selection. */
class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("components of a forest with two trees and a singleton-free edge set") {
    // {1,2,3,4} via 1-2, 2-3, 3-4 (a chain); {10,11} via 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val got = Clusters.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("incremental clusters: attach, merge, and fresh components all equal " +
    "the full recompute; labels stay min-id") {
    val priorPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val prior = Clusters.dedupClusters(priorPairs)
    // (3,4) attaches a new doc; (2,10) merges two stored components;
    // (20,21) is an entirely new component
    val newPairs = Seq((3L, 4L), (2L, 10L), (20L, 21L)).toDF("a_id", "b_id")
    val inc = Clusters.dedupClustersIncremental(prior, newPairs)
      .select($"cluster", $"doc_id", $"is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    val full = Clusters.dedupClusters(priorPairs.unionByName(newPairs))
      .select($"cluster", $"doc_id", $"is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(inc === full)
    assert(inc.filter(_._1 == 1L).map(_._2) === Set(1L, 2L, 3L, 4L, 10L, 11L))
    assert(inc.filter(_._1 == 20L).map(_._2) === Set(20L, 21L))
    assert(inc.count(_._3) === 2) // one canonical per component
  }

  test("a long chain needs multiple propagation rounds and still converges") {
    // path 0-1-2-...-12: diameter 12, min label must walk the whole chain
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Clusters.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length === 13 && got.forall(_._2 == 0L))
  }

  test("two cliques bridged by one edge merge into one component") {
    val cliqueA = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 20L to 23L; j <- (i + 1) to 23L) yield (i, j)
    val edges = (cliqueA ++ cliqueB :+ ((4L, 20L))).toDF("a_id", "b_id")
    val got = Clusters.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length === 8 && got.forall(_._2 == 1L))
  }

  test("star components solve a 4096-node path within the 2·log2(n) bound") {
    // diameter 4095 — min-label propagation would need 4095 rounds; the
    // large-star/small-star path must finish inside its own hard bound of
    // 2·ceil(log2 n)+4 rounds (starComponents THROWS past it, so this
    // passing IS the round-count proof)
    val n = 4096L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val star = Clusters.starComponents(edges, "a_id", "b_id")
      .as[(Long, Long)].collect()
    assert(star.length === n && star.forall(_._2 == 0L))
    // driverEdgeCap=0 forces the distributed path, so auto must reach star
    // (not the driver shortcut)
    val auto = Clusters.connectedComponents(edges, driverEdgeCap = 0)
      .as[(Long, Long)].collect()
    assert(auto.length === n && auto.forall(_._2 == 0L))
  }

  test("driver union-find shortcut agrees with the distributed paths") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(500)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a_id", "b_id")
    val driver = Clusters.connectedComponents(edges) // auto, under the cap
      .as[(Long, Long)].collect().toMap
    val star = Clusters.starComponents(edges, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(driver === star)
    // an over-cap graph silently falls through to the distributed path
    // and computes the same components
    val overCap = Clusters.connectedComponents(edges, driverEdgeCap = 10)
      .as[(Long, Long)].collect().toMap
    assert(overCap === star)
  }

  test("auto path output schema is identical whichever path ran") {
    // IntegerType ids: the driver shortcut must emit the same column
    // types the distributed fallbacks would, or downstream unions /
    // parquet appends break depending on data volume
    val intEdges = Seq((1, 2), (2, 3), (10, 11)).toDF("a_id", "b_id")
    val viaDriver = Clusters.connectedComponents(intEdges)
    val viaDistributed = Clusters.connectedComponents(intEdges, driverEdgeCap = 0)
    assert(viaDriver.schema === viaDistributed.schema)
    assert(viaDriver.as[(Int, Int)].collect().toMap ===
      viaDistributed.as[(Int, Int)].collect().toMap)
    // a NULL edge id makes the driver path decline (distributed semantics
    // apply regardless of graph size) rather than crash
    val withNull = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)))
      .toDF("a_id", "b_id")
    val viaAuto = Clusters.connectedComponents(withNull).collect()
    val viaDist = Clusters.connectedComponents(withNull, driverEdgeCap = 0).collect()
    assert(viaAuto.toSet === viaDist.toSet)
  }

  test("dedupClusters marks exactly one canonical (the min id) per cluster") {
    val pairs = Seq((5L, 9L), (9L, 7L), (30L, 31L)).toDF("a_id", "b_id")
    val got = Clusters.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect().sortBy(_._2)
    assert(got === Array((5L, 5L, true), (5L, 7L, false), (5L, 9L, false),
      (30L, 30L, true), (30L, 31L, false)))
  }

  test("bipartiteRank matches the hand-unrolled integer fixed point") {
    // edges: c1->{s10,s11}, c2->{s10}. Hand-computed (see bipartiteRank
    // formula): push1 s10=14250 s11=5750; back-push c1=12443 c2=7556;
    // push2 s10=13210 s11=6787.
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("c", "s")
    val one = Clusters.bipartiteRank(edges, "c", "s", pushes = 1)
      .as[(Long, Long)].collect().toMap
    assert(one === Map(10L -> 14250L, 11L -> 5750L))
    val two = Clusters.bipartiteRank(edges, "c", "s", pushes = 2)
      .as[(Long, Long)].collect().toMap
    assert(two === Map(10L -> 13210L, 11L -> 6787L))
  }

  test("bipartiteRank is insensitive to duplicate edges") {
    val edges = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 10L)).toDF("c", "s")
    val got = Clusters.bipartiteRank(edges, "c", "s", pushes = 1)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 14250L, 11L -> 5750L))
  }
}
