package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("latestPerGroup keeps exactly one row per group, the max by order col") {
    val df = Seq(
      ("a", "2024-01-01", 1), ("a", "2024-01-03", 2), ("a", "2024-01-02", 3),
      ("b", "2024-02-01", 4)).toDF("k", "d", "v")
    val got = Relational.latestPerGroup(df, Seq("k"), "d").collect()
      .map(r => (r.getString(0), r.getInt(2))).toSet
    assert(got == Set(("a", 2), ("b", 4)))
  }

  test("latestPerGroup tie-break is deterministic") {
    val df = Seq(("a", "2024-01-01", 1), ("a", "2024-01-01", 9)).toDF("k", "d", "v")
    val got = Relational.latestPerGroup(df, Seq("k"), "d", Seq("v")).collect()
    assert(got.map(_.getInt(2)).toSeq == Seq(9))
  }

  test("argmax keeps all rows tied at the group max") {
    val df = Seq(("a", 3, "x"), ("a", 3, "y"), ("a", 1, "z"), ("b", 2, "w"))
      .toDF("k", "n", "tag")
    val got = Relational.argmax(df, Seq("k"), "n").collect().map(_.getString(2)).toSet
    assert(got == Set("x", "y", "w"))
  }

  test("boolAll over empty group is true (Python all([]) parity)") {
    val df = Seq(("a", Option.empty[String])).toDF("k", "status")
    val got = df.groupBy($"k")
      .agg(Relational.boolAllExpr($"status".isin("success")).as("ok"))
      .collect()
    assert(got.head.getBoolean(1))
  }

  test("boolAny over empty group is false") {
    val df = Seq(("a", Option.empty[String])).toDF("k", "status")
    val got = df.groupBy($"k")
      .agg(Relational.boolAnyExpr($"status" === "success").as("any"))
      .collect()
    assert(!got.head.getBoolean(1))
  }

  test("tryElementAt returns null out of bounds, value in bounds") {
    val df = Seq("a.b.c", "a").toDF("s")
      .select(Relational.tryElementAt(col("s"), "\\.", 3).as("third"))
    assert(df.collect().map(r => Option(r.getString(0))).toSet ==
      Set(Some("c"), None))
  }

  test("pickNextOrFallback picks min matching, falls back to max") {
    val df = Seq(("2024-01-01", "done"), ("2024-01-02", "open"), ("2024-01-03", "open"))
      .toDF("etl_date", "status")
    val next = Relational.pickNextOrFallback(df, col("status") === "open", "etl_date")
    assert(next.collect().head.getString(0) == "2024-01-02")
    val exhausted = Relational.pickNextOrFallback(df, col("status") === "nope", "etl_date")
    assert(exhausted.collect().head.getString(0) == "2024-01-03")
  }

  test("mergeAsRewrite upserts: update matched, insert new, keep unmatched") {
    val target = Seq((Option(1), "a"), (Option(2), "b"), (None, "n")).toDF("k", "v")
    val source = Seq((Option(2), "B"), (Option(3), "C"), (None, "N")).toDF("k", "v")
    val got = Relational.mergeAsRewrite(target, source, Seq("k"))
      .as[(Option[Int], String)].collect()
    // keys match null-safely: the NULL-keyed source row replaces the
    // NULL-keyed target row instead of landing beside it
    assert(got.length == 4)
    assert(got.toSet == Set((Some(1), "a"), (Some(2), "B"), (Some(3), "C"), (None, "N")))
  }

  test("mergeAsRewrite: a matched source NULL nulls out the target value") {
    val target = Seq((1, Option("a")), (2, Option("b"))).toDF("k", "v")
    val source = Seq((2, None: Option[String]), (3, Option("C"))).toDF("k", "v")
    val got = Relational.mergeAsRewrite(target, source, Seq("k"))
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    // UPDATE SET v = NULL must land as NULL, not keep 'b'
    assert(got == Set((1, Option("a")), (2, None), (3, Option("C"))))
  }

  test("mergeAsRewrite is idempotent") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val source = Seq((2, "B")).toDF("k", "v")
    val once = Relational.mergeAsRewrite(target, source, Seq("k"))
    val twice = Relational.mergeAsRewrite(once, source, Seq("k"))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("mergeAggregates refresh equals recompute, including min/max") {
    val raw = Seq(("a", 1L), ("a", 5L), ("b", 2L), ("a", 3L), ("b", 7L))
      .toDF("k", "v")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"),
        min($"v").as("lo"), max($"v").as("hi"))
    val base = rollup(raw.limit(2))
    val delta = rollup(raw.exceptAll(raw.limit(2)))
    val merged = Relational.mergeAggregates(base, delta, Seq("k"),
      sumCols = Seq("n", "s"), minCols = Seq("lo"), maxCols = Seq("hi"))
    assert(merged.collect().toSet == rollup(raw).collect().toSet)
  }

  test("snapshotDiff classifies inserted/deleted/updated, drops unchanged") {
    val oldSnap = Seq((1, "a"), (2, "b"), (3, Option.empty[String].orNull))
      .toDF("k", "v")
    val newSnap = Seq((2, "B"), (3, Option.empty[String].orNull), (4, "d"))
      .toDF("k", "v")
    val got = Relational.snapshotDiff(oldSnap, newSnap, Seq("k"))
      .as[(Int, String)].collect().toSet
    // 1 deleted, 2 updated, 3 unchanged (NULL <=> NULL), 4 inserted
    assert(got == Set((1, "deleted"), (2, "updated"), (4, "inserted")))
  }

  test("snapshotDiff flags NULL->value as an update") {
    val oldSnap = Seq((1, Option.empty[String].orNull)).toDF("k", "v")
    val newSnap = Seq((1, "x")).toDF("k", "v")
    val got = Relational.snapshotDiff(oldSnap, newSnap, Seq("k"))
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "updated")))
  }
}
