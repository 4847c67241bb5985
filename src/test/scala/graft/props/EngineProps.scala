package graft.props

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SharedSpark
import graft.core.Warehouse
import graft.ops.Relational
import graft.vault.{SchemaDrift, Vault}

/** Property-based invariants (SURVEY §5): merge idempotence, SCD2
  * satellite window laws, drift I/D symmetry, calendar-picker equivalence,
  * hash-key determinism. Small generated tables, few cases — each case is
  * a Spark job. */
object EngineProps extends Properties("engine") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)

  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val genKV: Gen[List[(Int, String)]] =
    Gen.listOfN(12, Gen.zip(Gen.choose(1, 6), Gen.oneOf("a", "b", "c")))

  private val genLoads: Gen[List[(Int, Int, String)]] = // (key, day, status)
    Gen.listOfN(10, Gen.zip(Gen.choose(1, 3), Gen.choose(1, 9), Gen.oneOf("A", "B")))

  property("merge is idempotent: merge(merge(t,s),s) == merge(t,s)") =
    forAll(genKV, genKV) { (t0, s0) =>
      val t = t0.distinctBy(_._1).toDF("k", "v")
      val s = s0.distinctBy(_._1).toDF("k", "v")
      val once = Relational.mergeAsRewrite(t, s, Seq("k"))
      val twice = Relational.mergeAsRewrite(once, s, Seq("k"))
      twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty
    }

  property("merge keeps exactly the union of keys") =
    forAll(genKV, genKV) { (t0, s0) =>
      val t = t0.distinctBy(_._1).toDF("k", "v")
      val s = s0.distinctBy(_._1).toDF("k", "v")
      val merged = Relational.mergeAsRewrite(t, s, Seq("k"))
      val keys = merged.select("k").as[Int].collect().toSet
      keys == (t0.map(_._1).toSet ++ s0.map(_._1).toSet) &&
        merged.count() == keys.size
    }

  property("satellite SCD2: windows chain, exactly one open row per key") =
    forAll(genLoads) { loads =>
      val src = loads.distinctBy(l => (l._1, l._2))
        .map(l => (l._1.toString, f"2024-01-0${l._2}%d", l._2.toLong, l._3))
        .toDF("bk", "load_date", "seq", "status")
      val sat = Vault.satellite(src, "p", Seq("bk"), Seq("status"), "load_date", Seq("seq"))
        .collect()
      val byKey = sat.groupBy(_.getAs[String]("sat_p_hash_key"))
      byKey.forall { case (_, rows) =>
        val sorted = rows.sortBy(_.getAs[String]("load_date"))
        val oneOpen = sorted.count(_.getAs[String]("load_end_date") == null) == 1
        val chained = sorted.sliding(2).forall {
          case Array(a, b) => a.getAs[String]("load_end_date") == b.getAs[String]("load_date")
          case _ => true
        }
        val compressed = sorted.sliding(2).forall {
          case Array(a, b) => a.getAs[String]("hash_diff") != b.getAs[String]("hash_diff")
          case _ => true
        }
        oneOpen && chained && compressed
      }
    }

  property("satellite loader: any split into batches, one replayed, == one satellite call") =
    forAll(genLoads, Gen.listOfN(3, Gen.choose(1, 8)), Gen.choose(0, 99)) { (loads, cuts, pick) =>
      val rows = loads.distinctBy(l => (l._1, l._2))
      def frame(rs: Seq[(Int, Int, String)]) =
        rs.map(l => (l._1.toString, f"2024-01-0${l._2}%d", l._3)).toDF("bk", "load_date", "status")
      // batches arrive in load-date order: batch i holds the days up to cut i
      val bounds = (0 +: cuts.distinct.sorted) :+ 9
      val batches = bounds.zip(bounds.tail)
        .map { case (lo, hi) => rows.filter(r => r._2 > lo && r._2 <= hi) }
        .filter(_.nonEmpty)
      val wh = new Warehouse(spark, Files.createTempDirectory("graft_prop_sat_").toString)
      (batches :+ batches(pick % batches.size)).foreach(b =>
        Vault.loadSatellite(wh, frame(b), "p", Seq("bk"), Seq("status"), col("load_date")))
      val loaded = wh.read("raw_vault", "sat_p")
      val whole = Vault.satellite(frame(rows), "p", Seq("bk"), Seq("status"), "load_date")
      loaded.exceptAll(whole).isEmpty && whole.exceptAll(loaded).isEmpty
    }

  property("drift is antisymmetric: diff(a,b) I-rows == diff(b,a) D-rows") =
    forAll(Gen.someOf("a", "b", "c", "d"), Gen.someOf("a", "b", "c", "d")) { (as, bs) =>
      import org.apache.spark.sql.types._
      def st(names: Seq[String]) = StructType(names.map(StructField(_, StringType)))
      val ab = SchemaDrift.diff(st(as.toSeq), st(bs.toSeq), "t")
      val ba = SchemaDrift.diff(st(bs.toSeq), st(as.toSeq), "t")
      ab.filter(_.status == "I").map(_.column_name).toSet ==
        ba.filter(_.status == "D").map(_.column_name).toSet
    }

  property("calendar picker == min(matching) else max(all)") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 9), Gen.oneOf(true, false)))) { rows =>
      val df = rows.map { case (d, open) => (f"2024-01-0$d%d", open) }.toDF("etl_date", "open")
      val got = Relational.pickNextOrFallback(df, col("open") === true, "etl_date")
        .as[String].head()
      val dates = rows.map { case (d, o) => (f"2024-01-0$d%d", o) }
      val expected = dates.filter(_._2).map(_._1).minOption
        .getOrElse(dates.map(_._1).max)
      got == expected
    }

  property("vault hash keys: deterministic, order-sensitive, distinct per key") =
    forAll(Gen.listOfN(6, Gen.alphaNumStr.suchThat(_.nonEmpty))) { keys =>
      val df = keys.distinct.map(Tuple1(_)).toDF("k")
      val hashed = df.select(Vault.hashKey(Seq(col("k"))).as("h"), col("k")).collect()
      Prop.propBoolean(hashed.map(_.getString(0)).distinct.length == keys.distinct.length)
    }

  property("merge NULL-out: matched source NULLs override, unmatched keep target") =
    forAll(genKV, Gen.listOfN(8, Gen.zip(Gen.choose(1, 6), Gen.option(Gen.oneOf("X", "Y"))))) {
      (t0, s0) =>
        val t = t0.distinctBy(_._1).toDF("k", "v")
        val s = s0.distinctBy(_._1).toDF("k", "v")
        val merged = Relational.mergeAsRewrite(t, s, Seq("k"))
          .collect().map(r => r.getInt(0) -> Option(r.getString(1))).toMap
        val tm = t0.distinctBy(_._1).map(kv => kv._1 -> Option(kv._2)).toMap
        val sm = s0.distinctBy(_._1).toMap
        merged.forall { case (k, v) =>
          sm.get(k) match {
            case Some(sv) => v == sv // matched: source value, even when NULL
            case None => v == tm(k) // unmatched: target value survives
          }
        }
    }

  property("HLL estimate within 3·σ for any cardinality, invariant to duplication") =
    forAll(Gen.choose(100, 5000), Gen.choose(1, 3)) { (n, dup) =>
      import graft.operators.Sketches
      val base = (1 to n).flatMap(v => Seq.fill(dup)(("g", v))).toDF("g", "v")
      val est = Sketches.hllDistinct(base, Seq("g"), "v")
        .select(col("hll_est_e2")).as[Long].head() / 100.0
      // σ ≈ 1.04/√4096 ≈ 1.6%; linear counting below 2.5m is tighter
      math.abs(est - n) / n.toDouble < 0.05
    }

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(25, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)

  property("zvalue is injective on 16-bit pairs and order-preserving per axis") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)))) { pairs0 =>
      import graft.operators.ZOrder
      val pairs = pairs0.distinct
      val zs = pairs.toDF("a", "b")
        .select(ZOrder.zvalue(col("a"), col("b"))).as[Long].collect()
      // distinct (a,b) -> distinct z (bit interleave is a bijection), and
      // the local reference computation agrees exactly
      def zRef(a: Long, b: Long): Long =
        (0 until 16).foldLeft(0L)((acc, i) =>
          acc | (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1)))
      zs.toSet.size == pairs.size &&
        zs.toSeq == pairs.map { case (a, b) => zRef(a, b) }
    }

  property("bloom filter never drops a build key (no false negatives)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-1000000L, 1000000L))) { keys0 =>
      import graft.operators.BloomFilter
      val keys = keys0.distinct
      val sketch = BloomFilter.build(keys.toDF("k"), "k", mBits = 1 << 10, kHashes = 3)
      keys.forall(k => sketch.mightContainValue(k.toString))
    }

  property("packSequences conserves tokens and fills all but the last") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 12))) { lens =>
      import graft.operators.Chunker
      val docs = lens.zipWithIndex.map { case (n, i) =>
        ("s", i.toLong, Seq.fill(n)("w").mkString(" "))
      }.toDF("src", "doc_id", "text")
      val seqs = Chunker.packSequences(docs, "doc_id", "text", "src", budget = 5)
        .orderBy("seq_id")
        .select("seq_id", "n_tokens").as[(Long, Long)].collect().toSeq
      val total = lens.map(_.toLong).sum
      seqs.map(_._2).sum == total &&
        seqs.dropRight(1).forall(_._2 == 5L) &&
        seqs.map(_._1) == seqs.indices.map(_.toLong)
    }

  property("connected components agree with a local union-find") =
    forAll(genEdges) { edges =>
      import graft.operators.Clusters
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(x => x -> find(x)).toMap
      // min-label invariant: union-find roots here ARE component minima
      // (larger root always reparented onto smaller)
      val got = Clusters.connectedComponents(edges.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toMap
      got == expected
    }

  // random token docs + random 2-3-word phrases drawn from the same small
  // vocabulary (so collisions actually occur)
  private val genVocabWord: Gen[String] = Gen.oneOf("ab", "cd", "ef", "gh")
  private val genDocs: Gen[List[String]] =
    Gen.listOfN(6, Gen.listOfN(8, genVocabWord).map(_.mkString(" ")))
  private val genPhrases: Gen[List[String]] =
    Gen.listOfN(3, Gen.choose(2, 3)
      .flatMap(n => Gen.listOfN(n, genVocabWord).map(_.mkString(" "))))

  property("blocklist matches = brute-force consecutive-sequence scan") =
    forAll(genDocs, genPhrases) { (docs, phrases) =>
      import graft.operators.Blocklist
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Blocklist.matches(df, phrases.toDF("phrase"), "doc_id", "text")
        .as[(Long, String, Long)].collect().toSet
      // reference: count occurrences of each phrase token-sequence per doc
      val expected = (for {
        (t, i) <- docs.zipWithIndex
        toks = t.split("\\s+").toSeq
        p <- phrases.distinct
        pt = p.split("\\s+").toSeq
        n = toks.sliding(pt.size).count(_ == pt) if n > 0
      } yield (i.toLong, p, n.toLong)).toSet
      got == expected
    }

  // random positive weights, normalized to sum 10000 (remainder onto the
  // last split) — any weighting is a valid split spec
  private val genWeights: Gen[List[Int]] =
    Gen.choose(2, 4).flatMap(k => Gen.listOfN(k, Gen.choose(1, 100))).map { ws =>
      val scaled = ws.map(w => math.max(1, w * 10000 / ws.sum))
      scaled.init :+ (10000 - scaled.init.sum)
    }.suchThat(ws => ws.forall(_ > 0) && ws.sum == 10000)

  property("assignSplits partitions ids: exhaustive, disjoint, stable") =
    forAll(genWeights, Gen.listOfN(20, Gen.choose(0L, 999L))) { (ws, ids0) =>
      import graft.ext.CorpusCuration
      val ids = ids0.distinct
      val splits = ws.zipWithIndex.map { case (w, i) => (s"s$i", w) }
      val df = ids.toDF("doc_id")
      val a = CorpusCuration.assignSplits(df, "doc_id", splits)
        .as[(Long, String)].collect().toMap
      val b = CorpusCuration.assignSplits(df, "doc_id", splits)
        .as[(Long, String)].collect().toMap
      a.keySet == ids.toSet &&                      // every id, exactly once
      a.values.forall(splits.map(_._1).contains) && // only named splits
      a == b                                        // rerun-stable
    }

  property("matchDistribution: rates ≤ 10000, scarcest-relative keeps all") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 999L), Gen.oneOf("x", "y")))) { rows0 =>
      import graft.ext.CorpusCuration
      import org.scalacheck.Prop.propBoolean
      val rows = rows0.distinctBy(_._1)
      // both strata must be present for the derived-rate join
      (rows.map(_._2).toSet == Set("x", "y")) ==> {
        val df = rows.toDF("doc_id", "lang")
        val out = CorpusCuration.matchDistribution(df, "doc_id", "lang",
          Seq("x" -> 5000, "y" -> 5000))
        val per = out.groupBy("lang").agg(max("rate_e4").as("r"),
          count(lit(1)).as("n")).as[(String, Long, Long)].collect()
        // every rate within bounds, and the scarcest stratum (equal
        // targets → smallest count) keeps everything
        per.forall(_._2 <= 10000L) && per.minBy(_._3)._2 == 10000L
      }
    }

  property("lengthBucketedBatches: batches respect size; waste ≥ 0; total conserved") =
    forAll(Gen.listOfN(15, Gen.choose(1, 40))) { lens =>
      import graft.operators.Chunker
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(j => s"t$j").mkString(" "))
      }.toDF("doc_id", "text")
      val rows = Chunker.lengthBucketedBatches(docs, "doc_id", "text", 10L, 4)
        .as[(Long, Long, Long, Long)].collect()
      val byBatch = rows.groupBy(r => (r._1, r._2))
      byBatch.values.forall(_.length <= 4) &&             // batch size cap
      byBatch.values.forall { b =>                        // waste ≥ 0 per batch
        b.length * b.map(_._4).max - b.map(_._4).sum >= 0
      } &&
      rows.map(_._4).sum == lens.map(_.toLong).sum &&     // tokens conserved
      rows.length == lens.length                          // every doc batched
    }

  private val genVals: Gen[List[String]] =
    Gen.listOfN(60, Gen.choose(0, 40).map(i => s"v$i"))

  property("kmv sketch == sorted distinct hash minima, any order/partitioning") =
    forAll(genVals, Gen.choose(1, 5), Gen.choose(1, 7)) { (vs, k, parts) =>
      val sk = graft.operators.ThetaSketch.rawSketch(
        vs.map(("g", _)).toDF("g", "v").repartition(parts), "g", "v", k)
        .select(col("hs")).as[Seq[Long]].head()
      val ref = vs.distinct.map { v =>
        java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"theta:$v".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(15), 16)
      }.distinct.sorted.take(k)
      sk == ref
    }

  property("sign-bit words: every bit j matches qe(from+j) > 0") =
    forAll(Gen.listOfN(64, Gen.choose(-3L, 3L))) { qe =>
      val (w0, w1) = Seq(qe).toDF("qe")
        .select(
          org.apache.spark.sql.graft.SignBitsWord(col("qe"), 0, 32).as("w0"),
          org.apache.spark.sql.graft.SignBitsWord(col("qe"), 32, 32).as("w1"))
        .as[(Long, Long)].head()
      (0 until 32).forall { j =>
        (((w0 >> j) & 1L) == 1L) == (qe(j) > 0) &&
        (((w1 >> j) & 1L) == 1L) == (qe(32 + j) > 0)
      }
    }
}
