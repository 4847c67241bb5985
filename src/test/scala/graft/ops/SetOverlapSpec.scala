package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.PairBudgetExceeded
import graft.queries.StatsQueries

/** The census-guarded inverted-index pair stage behind q114
  * (StatsQueries.setOverlapPairs) — the r12-verdict fix for the one
  * unguarded pair stage in the codebase: a promiscuous key must REFUSE
  * over budget (never silently summon quadratic work), the doc-freq cap
  * must drop degenerate keys wholesale and deterministically, and the
  * guarded default must stay exact on in-budget data (q114's oracle pin
  * covers the fixture; this spec covers the adversarial shapes the
  * fixture can't). */
class SetOverlapSpec extends SparkSpec {
  import spark.implicits._

  /** Local reference: exact Jaccard top pairs over (member, key) rows. */
  private def reference(rows: Seq[(Long, Long)], topK: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val sets = rows.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val members = sets.keys.toSeq.sorted
    val all = for {
      a <- members; b <- members if a < b
      i = (sets(a) & sets(b)).size if i > 0
      u = (sets(a) | sets(b)).size
    } yield (a, b, i.toLong, u.toLong,
      math.floor(1e4 * i / u + 0.5).toLong)
    all.sortBy { case (s1, s2, _, _, j) => (-j, s1, s2) }.take(topK)
  }

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long, Long, Long)].collect().toSeq

  // 3 suppliers sharing overlapping part sets + one supplier apart
  private val small = Seq[(Long, Long)](
    (1L, 10L), (1L, 11L), (1L, 12L),
    (2L, 10L), (2L, 11L), (2L, 13L),
    (3L, 12L), (3L, 13L), (3L, 14L),
    (4L, 99L))

  test("guarded default is exact on in-budget data (matches the local " +
    "brute-force reference)") {
    val got = collected(StatsQueries.setOverlapPairs(
      small.toDF("s", "p"), topK = 10))
    assert(got === reference(small, 10))
    assert(got.nonEmpty)
  }

  test("a promiscuous key REFUSES over budget, naming the largest key and " +
    "the cap as the fix (the bench -2 sentinel contract: message carries " +
    "'exceed' and 'budget')") {
    // one hot key with 60 members: C(60,2) = 1770 pairs > budget 1000,
    // plus the small relation's in-budget keys (10..13 hold two members)
    val hot = (1L to 60L).map(s => (s, 777L))
    val e = intercept[PairBudgetExceeded] {
      StatsQueries.setOverlapPairs((small ++ hot).toDF("s", "p"),
        topK = 10, pairBudget = 1000L)
    }
    assert((e.operator, e.pairs, e.budget, e.hottest) ===
      (("setOverlapPairs", 1770L + 4L, 1000L, 60L)))
    assert("\\d+".r.findAllIn(e.getMessage).map(_.toLong).take(3).toSeq ===
      Seq(e.pairs, e.budget, e.hottest), e.getMessage)
    assert(e.getMessage.contains("exceed") && e.getMessage.contains("budget"))
    assert(e.getMessage.contains("60 members"))
    assert(e.getMessage.contains("maxMembersPerKey"))
  }

  test("the doc-freq cap drops over-cap keys WHOLESALE: capped result " +
    "equals the reference over the filtered relation (sizes included), " +
    "deterministically, within the stated pair bound") {
    val hot = (1L to 60L).map(s => (s, 777L))
    val rows = small ++ hot
    val capped = collected(StatsQueries.setOverlapPairs(
      rows.toDF("s", "p"), topK = 100, maxMembersPerKey = Some(10)))
    // reference over the relation WITHOUT the promiscuous key — Jaccard
    // sizes are computed over the same filtered relation (the capped
    // result stays oracle-expressible: HAVING count(*) <= cap)
    assert(capped === reference(rows.filterNot(_._2 == 777L), 100))
    // no pair exists solely because of the dropped key
    assert(capped.forall { case (s1, s2, _, _, _) =>
      !(s1 > 4L && s2 > 4L) })
    // deterministic across runs/partitionings
    assert(capped === collected(StatsQueries.setOverlapPairs(
      rows.toDF("s", "p").repartition(7), topK = 100,
      maxMembersPerKey = Some(10))))
  }

  test("pairBudget <= 0 opts in to uncapped-exact explicitly") {
    val hot = (1L to 60L).map(s => (s, 777L))
    val rows = small ++ hot
    val got = collected(StatsQueries.setOverlapPairs(
      rows.toDF("s", "p"), topK = 2000, pairBudget = 0L))
    assert(got === reference(rows, 2000))
    assert(got.size >= 1770) // the hot key's pairs all materialized
  }
}
