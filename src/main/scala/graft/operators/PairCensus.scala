package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pair census every quadratic-in-key-size operator runs before its
  * pair stage: over a per-key member-count frame, `pairs` = Σ n·(n−1)/2
  * (the pairs a self-join on the key would enumerate), `hottest` = the
  * largest n, and `sums(i)` = the i-th caller-supplied per-key long
  * expression summed over all keys (join-strategy gates, kept-pair
  * bounds, cross-side pair counts) — all from ONE aggregate action, so a
  * guarded call pays exactly one driver barrier however many integers it
  * needs. An empty count frame yields zeros. */
final case class PairCensus(pairs: Long, hottest: Long, sums: IndexedSeq[Long]) {

  /** Refuses `operator`'s call — after `release()` frees the caller's
    * caches, so a long-lived session never pins one cached frame per
    * rejected call — when `pairs` exceeds a positive `budget`; `detail`
    * renders the message after the operator name. */
  def enforce(operator: String, budget: Long, release: () => Unit = () => ())(
      detail: PairCensus => String): Unit =
    if (budget > 0 && pairs > budget) {
      release()
      throw new PairBudgetExceeded(operator, pairs, budget, hottest, detail(this))
    }
}

object PairCensus {

  /** Candidate-pair budget shared by every guarded pair stage. 50M pairs
    * ≈ the verify stage a 32-core box clears in minutes; the sf1.0 probe's
    * degenerate corpus measured 58.4M — exactly the run the guard exists
    * to stop. */
  val DefaultBudget: Long = 50_000_000L

  /** One action over `counts`: Σ n·(n−1)/2 and max n of `countCol`, plus
    * each of `sums` summed (nulls and empty input read as 0). */
  def apply(counts: DataFrame, countCol: String, sums: Column*): PairCensus = {
    val n = col(countCol)
    val row = counts.agg(long0(sum(n * (n - 1))),
      (long0(max(n)) +: sums.map(s => long0(sum(s)))): _*).head()
    PairCensus(row.getLong(0) / 2, row.getLong(1),
      (2 until row.length).map(row.getLong))
  }

  private def long0(agg: Column): Column = coalesce(agg, lit(0L)).cast("long")
}

/** A guarded pair stage's refusal: the census counted `pairs` candidate
  * pairs against a positive `budget`; `hottest` is the member count of
  * the census's largest key. The message names the operator and the fix;
  * callers that branch on a refusal (a benchmark recording a declared
  * skip) match this type, never the text. */
final class PairBudgetExceeded(val operator: String, val pairs: Long,
                               val budget: Long, val hottest: Long, detail: String)
    extends IllegalArgumentException(s"$operator: $detail")
