package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** JSONL shard export (stable membership, manifest counts, round-trip) and
  * the one-pass profiler. */
class ExportProfileSpec extends SparkSpec {
  import spark.implicits._

  test("jsonl shards round-trip, manifest counts match, membership is stable") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text", "lang")
    val out = Files.createTempDirectory("graft_exp_").toString
    val manifest = Export.writeJsonlShards(docs, out, nShards = 4,
      shardKey = "doc_id", verifyCounts = true)
    val rows = manifest.collect()
    assert(rows.length >= 1 && rows.length <= 4)
    assert(rows.map(_.getAs[Long]("rows")).sum === docs.count())
    assert(rows.forall(_.getAs[Long]("bytes") > 0))
    // round trip: nothing lost or duplicated
    val back = spark.read.json(s"$out/part-*")
      .select(col("doc_id").cast("long"), col("text"), col("lang"))
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // stability: re-export to a second dir yields identical shard membership
    val out2 = Files.createTempDirectory("graft_exp2_").toString
    Export.writeJsonlShards(docs, out2, nShards = 4, shardKey = "doc_id")
    def membership(dir: String) = spark.read.json(s"$dir/part-*")
      .select(element_at(split(input_file_name(), "/"), -1).as("f"), col("doc_id"))
      .withColumn("shard", regexp_extract(col("f"), "part-(\\d+)", 1))
      .select("shard", "doc_id")
    val a = membership(out).collect().toSet
    val b = membership(out2).collect().toSet
    assert(a === b, "shard membership must be content-defined, not run-defined")
  }

  test("profiler: one row per column with exact null counts and sane ranges") {
    val df = Seq((1L, Some("a"), 1.5), (2L, None, 2.5), (3L, Some("c"), 2.5))
      .toDF("id", "s", "v")
    val p = Profiler.profile(df).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(p.keySet === Set("id", "s", "v"))
    assert(p("id").getAs[Long]("n_rows") === 3L)
    assert(p("s").getAs[Long]("n_nulls") === 1L)
    assert(p("id").getAs[String]("min") === "1" && p("id").getAs[String]("max") === "3")
    assert(p("v").getAs[Long]("approx_distinct") === 2L)
  }

  test("profiler: numeric bounds are numeric (not lexicographic), dotted names and maps survive") {
    val df = Seq((2L, Map("a" -> 1)), (10L, Map("b" -> 2)))
      .toDF("user.id", "props")
    val p = Profiler.profile(df).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    // lexicographic order would give min "10" / max "2"
    assert(p("user.id").getAs[String]("min") === "2")
    assert(p("user.id").getAs[String]("max") === "10")
    // unorderable map column: null bounds, counts still real
    assert(p("props").getAs[String]("min") === null)
    assert(p("props").getAs[Long]("n_nulls") === 0L)
  }

  test("tokenDrift equals a hand-computed TV distance; identical slices read 0, disjoint 1") {
    // a: {x:2, y:1, z:1} (N=4); b: {x:1, y:3} (N=4); c ≡ a; d: {q:2} disjoint
    val docs = Seq(
      ("a", "x x y z"), ("b", "x y y y"), ("c", "x x y z"), ("d", "q q"))
      .toDF("src", "text")
    val got = Profiler.tokenDrift(docs, "src", "text", topN = 64)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    // TV(a,b) = ½(|2/4−1/4| + |1/4−3/4| + |1/4−0|) = ½·(1/4+2/4+1/4) = 1/2
    assert(got(("a", "b")) === 5000L)
    assert(got(("a", "c")) === 0L, "identical distributions must read 0")
    assert(got(("a", "d")) === 10000L, "disjoint vocabularies must read 1")
    assert(got.size === 6) // 4 slices → 6 pairs
    // the residual bucket carries mass: with topN=1 only the global top
    // token (x? counts: x=5? x:2+1+2=5, y:1+3+1=5, q:2 — tie x/y → y? order
    // by count desc, token asc picks the lexicographically FIRST of the
    // tie: x) stays itemized, everything else folds into "other" —
    // TV(a,d): p_a = {x:2/4, other:2/4}, p_d = {x:0, other:1} → ½(2/4+2/4)= ½
    val coarse = Profiler.tokenDrift(docs, "src", "text", topN = 1)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(coarse(("a", "d")) === 5000L)
    assert(coarse(("a", "c")) === 0L)
  }

  test("distributionDrift: hand-computed TV, shared-lineage snapshots, one-sided slices dropped") {
    // s1: A = {1:2, 2:1}, B = {1:1, 3:1} → TV = ½(|2/3−1/2| + 1/3 + 1/2) = ½
    // s2: identical → 0; s3: only in A → dropped (drift undefined)
    val rows = Seq(
      ("s1", 0L, 1L), ("s1", 2L, 1L), ("s1", 4L, 2L),
      ("s1", 1L, 1L), ("s1", 3L, 3L),
      ("s2", 0L, 5L), ("s2", 1L, 5L),
      ("s3", 0L, 9L)).toDF("src", "id", "bk")
    // SHARED-lineage snapshots (filters of one frame) — the regression
    // case: a join-based formulation hit ambiguous self-join resolution
    // and returned zero rows
    val got = Profiler.distributionDrift(
      rows.filter(col("id") % 2 === 0), rows.filter(col("id") % 2 === 1),
      "src", "bk")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("s1")._4 === 5000L)
    assert(got("s2")._4 === 0L)
    assert(!got.contains("s3"), "one-sided slices must drop, not divide by zero")
    assert(got("s1")._2 === 3L && got("s1")._3 === 2L)
  }

  test("ProfileStore: drift from stored versions == direct distributionDrift; versions stay readable") {
    val rows = Seq(
      ("s1", 0L, 1L), ("s1", 2L, 1L), ("s1", 4L, 2L),
      ("s1", 1L, 1L), ("s1", 3L, 3L),
      ("s2", 0L, 5L), ("s2", 1L, 5L)).toDF("src", "id", "bk")
    val snapA = rows.filter(col("id") % 2 === 0)
    val snapB = rows.filter(col("id") % 2 === 1)
    val whDir = Files.createTempDirectory("graft_pstore_")
    val wh = new graft.core.Warehouse(spark, whDir.toString)
    val va = ProfileStore.snapshot(wh, "mon", "p", snapA, "src", "bk")
    val vb = ProfileStore.snapshot(wh, "mon", "p", snapB, "src", "bk")
    assert(va < vb)
    val direct = Profiler.distributionDrift(snapA, snapB, "src", "bk")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val stored = ProfileStore.drift(wh, "mon", "p", va, vb, "src")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(stored === direct)
    // a third snapshot does not disturb earlier pairs (time travel: every
    // committed version stays independently readable)
    val vc = ProfileStore.snapshot(wh, "mon", "p", snapA, "src", "bk")
    val again = ProfileStore.drift(wh, "mon", "p", va, vb, "src")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again === direct)
    // identical snapshots drift to zero through the store too
    val zero = ProfileStore.drift(wh, "mon", "p", va, vc, "src")
      .as[(String, Long, Long, Long)].collect()
    assert(zero.forall(_._4 === 0L))
  }

  test("empty export with verifyCounts returns an empty manifest, no crash") {
    val out = Files.createTempDirectory("graft_exp0_").toString
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val m = Export.writeJsonlShards(empty, out, nShards = 4,
      shardKey = "doc_id", verifyCounts = true)
    assert(m.columns.toSeq === Seq("shard", "file", "bytes", "rows"))
    assert(m.filter(col("rows") > 0).count() === 0L)
  }
}
