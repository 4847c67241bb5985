package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ArrayLongDot, BpeExprs, MinHashExprs}

import graft.SparkSpec

/** The native expressions through the Column API the operators call. */
class NativeKernelSpec extends SparkSpec {
  import spark.implicits._

  test("array dot product and MinHash signatures evaluate through the Column API") {
    val r = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(7L, 8L))).toDF("a", "b", "hs")
      .select(
        ArrayLongDot(col("a"), col("b")).as("dot"),
        element_at(MinHashExprs.minhashSigs(col("hs"), 4,
          1048573L, 2147483647L, 1000003L, 7919L, 12345L, 104729L), 1).as("mh0"))
      .head()
    assert(r.getLong(0) === 32L)
    // mh0 = min over h∈{7,8} of (h*1000003 + 12345) % (2^31-1)
    assert(r.getLong(1) === (7L * 1000003L + 12345L) % 2147483647L)
  }

  test("bpeTokenCount counts 'low lower' under a two-merge table") {
    val n = Seq("low lower").toDF("t")
      .select(BpeExprs.bpeTokenCount(col("t"), Seq(("l", "o"), ("lo", "w"))))
      .as[Long].head()
    assert(n === 4L) // [low] + [low,e,r]
  }

  test("sorted intersect count = size(array_intersect) on sorted distinct sets") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)), // partial overlap -> 2
      (Seq(1L, 2L), Seq(1L, 2L)),                   // identical -> 2
      (Seq(1L, 2L), Seq(7L, 8L)),                   // disjoint -> 0
      (Seq.empty[Long], Seq(1L)),                   // empty side -> 0
      (Seq(5L), Seq(1L, 2L, 3L, 4L, 5L))).toDF("a", "b")
    val got = df.select(
      MinHashExprs.sortedIntersectCount(col("a"), col("b")).as("s"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("h"))
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) === Seq(2L, 2L, 0L, 0L, 1L))
    assert(got.forall(r => r._1 == r._2), s"sorted vs array_intersect disagree: $got")
  }
}
