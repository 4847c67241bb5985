package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ContextCleaner frees shuffle files only when the driver GCs their
    // ShuffleDependency refs; at a 64 GB heap GC may never run across a
    // whole sweep, so heavy-query shuffle debris accumulates on disk until
    // ENOSPC (observed: the sf1.0 probe died at ~80 GB of spill). But an
    // UNCONDITIONAL System.gc() per query costs ~16% on sub-second queries
    // (A/B'd at sf0.1: 26.8 s -> 31.2 s over 25 small queries — a full GC
    // clears the soft/weak caches the hot path leans on). Round 7's gate
    // (absolute tmp free < 64 GB) was environment-dependent: on a box
    // that STARTS at 79 GB free, ~15 GB of mid-sweep debris armed it
    // permanently and every remaining query paid the full-GC tax (the
    // committed r7 artifact overstated query times 20–35%). So gate on
    // what the sweep itself has CONSUMED: free space is sampled at sweep
    // start across the dirs shuffle files actually land in
    // (spark.local.dir, not java.io.tmpdir — they can be different
    // volumes), and GC fires only once the sweep's own debris has eaten
    // a 24 GB budget, or as a last-resort ENOSPC floor at 8 GB free.
    // Debris-free sweeps never trip it regardless of how full the disk
    // started; sf1.0 probes trip it exactly between the heavy queries
    // that need it, and after the cleaner frees the debris the delta
    // falls back under budget so the gate DISARMS.
    val shuffleDirs: Seq[java.io.File] = spark.conf
      .getOption("spark.local.dir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(new java.io.File(_))
    def minFree(): Long = shuffleDirs.map(_.getUsableSpace).min
    val sweepStartFree: Long = minFree()
    def gcIfDiskPressured(): Unit = {
      val free = minFree()
      if (sweepStartFree - free > (24L << 30) || free < (8L << 30))
        System.gc()
    }
    // clearCache() only drops catalog-cached plans; localCheckpoint blocks
    // (near-dup pair frames, CC rounds) are persistent RDDs that otherwise
    // linger until driver GC — release them eagerly so storage memory never
    // accumulates across the 56-query run
    def releaseAll(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      gcIfDiskPressured()
    }
    // untimed warmup: a full pass over every query so JIT, whole-stage
    // codegen compilation (incl. the custom expressions), parquet footer
    // reads and broadcast setup all land off the clock. The timed pass
    // then measures steady-state throughput — the number a long-lived
    // cluster session actually sees.
    // builder-side subset for fast iteration (comma-separated name
    // prefixes, like Verify's SPARK_GRAFT_ONLY); the driver never sets it.
    // Set but empty means the whole registry, as in Verify
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.exists(p => name.startsWith(p)))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name failed: $e") }
      releaseAll() // free shuffle files during warmup too
    }
    // a census-guard refusal (PairBudgetExceeded, e.g. q173's documented
    // sf1.0 stance) is a DECLARED skip, not a failure: it records -2 so one
    // query's scale contract can't read as a broken sweep (-1 stays
    // "failed"); totals and cross-round compares already exclude
    // non-positive entries
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val status =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); 0 }
        catch {
          case e: graft.operators.PairBudgetExceeded =>
            System.err.println(s"[bench] $name REFUSED by census guard: ${e.getMessage}"); -2
          case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1
        }
      // stop the clock BEFORE cache release — unpersisting another query's
      // checkpoint blocks is harness bookkeeping, not query cost, and it
      // charged precisely the heaviest (most-persisting) queries
      val dt = (System.nanoTime() - t0) / 1e9
      releaseAll()
      if (status == 0) dt else status.toDouble // -1 = failed, -2 = refused
    }
    // store-lifecycle queries measured in two phases: build (the one-time
    // registration IO) and serve (the recurring per-arrival path). The
    // committed per-query number is the SERVE time — the claim the store
    // exists for — and build seconds ride the artifact as build_s
    // (round-10 verdict: the conflated rows read 2.9x/4.4x at sf1.0 while
    // the serve path alone is the design point). Correctness still gates
    // the WHOLE lifecycle via the unchanged q169/q177 entries.
    val storeSplits: Map[String, (SparkSession, String) => (() => Unit, () => DataFrame)] =
      Map(
        "q169_decontam_store" -> (graft.queries.CorpusQueries.q169BuildServe _),
        "q177_decontam_curve_store" -> (graft.queries.CorpusQueries.q177BuildServe _),
        "q191_trim_store" -> (graft.queries.CorpusQueries.q191BuildServe _),
        "q120_ann_index_topk" -> (graft.queries.SimQueries.q120BuildServe _),
        "q121_pq_index_topk" -> (graft.queries.SimQueries.q121BuildServe _),
        "q128_ivfpq_index_topk" -> (graft.queries.SimQueries.q128BuildServe _),
        "q129_hamming_index_topk" -> (graft.queries.SimQueries.q129BuildServe _),
        "q130_sq8_index_topk" -> (graft.queries.SimQueries.q130BuildServe _))
    // (build_s, serve_s); failures mirror timeOnce's sentinel convention
    def timeSplit(name: String,
                  mk: (SparkSession, String) => (() => Unit, () => DataFrame)): (Double, Double) =
      try {
        val (build, serve) = mk(spark, sfDir)
        val t0 = System.nanoTime()
        build()
        val tb = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        serve().write.format("noop").mode("overwrite").save()
        val ts = (System.nanoTime() - t1) / 1e9
        releaseAll()
        (tb, ts)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); releaseAll(); (-1.0, -1.0)
      }
    // noop sink: forces full materialization of every output column
    // (count() would let Catalyst prune non-grouping columns out of aggs).
    // Queries run in sorted name order for stable warmup attribution.
    // Queries over 1 s get a second run and report the min — the
    // steady-state number a long-lived session sees, insulated from a
    // transient GC pause or co-tenant I/O spike landing on one run
    // (run-to-run noise on this box is ±20%).
    // Calibration: the same fixed cheap query (q8 — sub-second, stable,
    // shuffle-light) timed at sweep start, middle, and end. A dedicated
    // box shows spread (max/min) ≈ 1; a co-tenant-contended box shows the
    // contention directly IN the artifact, so an inflated sweep names
    // itself instead of reading as an engine regression (round 8's
    // committed artifact was ~1.9× the canonical numbers and the per-query
    // "regressions" took an isolated re-measure to adjudicate).
    // each point is min-of-3: a single sub-second run carries ±2× scheduler
    // noise on this box, the min of three is stable — the point measures
    // sustained co-tenant contention, not one stray pause
    val calName = "q8_top10_orders"
    def calibrate(): Double = SparkEntry.queries.get(calName)
      .map { fn =>
        val ts = (1 to 3).map(_ => timeOnce(calName, fn)).filter(_ >= 0)
        if (ts.isEmpty) -1.0 else ts.min
      }.getOrElse(-1.0)
    // CC-family calibration anchor: the connected-components family
    // (q41's pair+CC envelope under q99/q150/q160/q164/q176/q179/q180...)
    // dominates sweep-total variance — round 10 measured q160 at 7.8 and
    // 13.0 s within ONE session. Timing the family representative at
    // sweep start and end stamps the family's own drift into the
    // artifact, so a CC-heavy swing names itself the way q8's global
    // calibration names box contention.
    val ccCalName = "q41_dedup_clusters"
    def ccCalibrate(): Double = SparkEntry.queries.get(ccCalName)
      .map { fn =>
        val ts = (1 to 2).map(_ => timeOnce(ccCalName, fn)).filter(_ >= 0)
        if (ts.isEmpty) -1.0 else ts.min
      }.getOrElse(-1.0)
    // the CC family (q41's pair+CC envelope and everything composed on it)
    // dominates sweep-total variance — r10 measured q160 at 7.8 and 13.0 s
    // within ONE session, and r11's two canonical sweeps disagreed 10.5% on
    // the family subtotal alone. Family rows therefore get min-of-THREE
    // (vs the global min-of-two for >1 s queries): one extra timed run per
    // CC row buys sweep-to-sweep family agreement inside the ±10% target.
    val ccFamily = Set("q41_dedup_clusters", "q54_embedding_clusters",
      "q99_incremental_near_dup", "q122_semdedup_auto", "q138_dedup_weights",
      "q140_cluster_splits", "q150_best_of_cluster",
      "q159_dup_quality_contingency", "q160_incremental_clusters",
      "q163_knn_density_auto", "q164_sampled_clusters", "q176_corpus_diff",
      "q179_dedup_budget_select", "q180_cap_k_dedup",
      "q183_sampled_dedup_budget", "q184_sampled_cap_k",
      "q194_sampled_cluster_splits")
    val calStart = calibrate()
    val ccCalStart = ccCalibrate()
    val buildS = scala.collection.mutable.LinkedHashMap[String, Double]()
    val half = selected.size / 2
    val queryResults0 = selected.zipWithIndex.flatMap { case ((name, fn), i) =>
      val best = storeSplits.get(name) match {
        case Some(mk) =>
          val (b1, s1) = timeSplit(name, mk)
          val (bb, bs) =
            if (s1 > 1.0) {
              val (b2, s2) = timeSplit(name, mk)
              if (s2 >= 0 && s2 < s1) (b2, s2) else (b1, s1)
            } else (b1, s1)
          if (bb >= 0) buildS(name) = bb
          bs
        case None =>
          val first = timeOnce(name, fn)
          if (first > 1.0) {
            val reruns = if (ccFamily(name)) 2 else 1
            val more = (1 to reruns).map(_ => timeOnce(name, fn)).filter(_ >= 0)
            (first +: more).min
          } else first
      }
      val cal = if (i == half) Seq("__cal_mid" -> calibrate()) else Seq.empty
      Seq(name -> best) ++ cal
    }
    val calMid = queryResults0.collectFirst { case ("__cal_mid", v) => v }.getOrElse(-1.0)
    val queryResults = queryResults0.filterNot(_._1 == "__cal_mid")
    val ccCalEnd = ccCalibrate()
    val calEnd = calibrate()
    // production-depth BPE training (not a Verify query — no SQL oracle
    // exists for an iterative learner): 1000 merges over the documents
    // table via the one-job in-memory learner; minCount=1 so the fixture
    // vocabulary actually sustains the full depth
    val extraResults =
      if (only.forall(_.exists("x_bpe_learn_1000".startsWith(_)))) {
        val t0 = System.nanoTime()
        val ok =
          try {
            val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            graft.operators.Bpe.learnMergesFast(docs, "text", 1000, minCount = 1L)
              .nonEmpty
          } catch { case e: Throwable =>
            System.err.println(s"[bench] bpe_learn failed: $e"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        releaseAll()
        Seq("x_bpe_learn_1000" -> (if (ok) dt else -1.0))
      } else Seq.empty
    val results = queryResults ++ extraResults
    // 1 ms precision: noise floor is far above it, and the shorter JSON
    // line survives stdout tail-capture buffers that truncated the
    // full-double-repr line at ~88 queries. Negative SENTINELS pass
    // through intact — r11's committed sf1.0 artifact read q173 as -1.0
    // while the sweep's stderr showed the census-guard REFUSED line,
    // because this serializer flattened every negative to -1.0 and
    // silently erased the -2 the timing loop had correctly recorded.
    def r3(v: Double): String =
      if (v < 0) s"${math.rint(v).toLong}.0"
      else (math.rint(v * 1000) / 1000).toString
    // failures record -1 per query; exclude the sentinel so a failed run
    // can't SUBTRACT from the total and make the round look faster
    val total = results.map(_._2).filter(_ >= 0).sum
    val cals = Seq(calStart, calMid, calEnd).filter(_ >= 0)
    val calSpread =
      if (cals.size >= 2 && cals.min > 0) cals.max / cals.min else -1.0
    val ccCals = Seq(ccCalStart, ccCalEnd).filter(_ >= 0)
    val ccSpread =
      if (ccCals.size == 2 && ccCals.min > 0) ccCals.max / ccCals.min else -1.0
    // the CC family's own subtotal rides the artifact so two sweeps'
    // family costs compare directly (family set defined above, where the
    // min-of-three rerun rule also reads it)
    val ccFamilyTotal = queryResults
      .filter { case (k, v) => ccFamily(k) && v >= 0 }.map(_._2).sum
    val calJson = s""""calibration":{"query":"$calName","start":${r3(calStart)},""" +
      s""""mid":${r3(calMid)},"end":${r3(calEnd)},"spread":${r3(calSpread)}},""" +
      s""""cc_calibration":{"query":"$ccCalName","start":${r3(ccCalStart)},""" +
      s""""end":${r3(ccCalEnd)},"spread":${r3(ccSpread)},""" +
      s""""family_total":${r3(ccFamilyTotal)}}"""
    def mapJson(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // The canonical full artifact goes to target/bench.json — the stdout
    // tail capture has truncated the full per-query map two rounds running
    // (~73 and ~88 entries), so stdout carries a SHORT always-parseable
    // JSON instead: totals + calibration + the 20 slowest queries (the
    // rows perf review actually reads), with queries_full naming the file.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
    // build_s: the untimed-in-headline one-time store-registration cost of
    // the split-measured lifecycle queries (their headline value is serve)
    val buildJson = s""""build_s":${mapJson(buildS.toSeq)}"""
    val fullJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",$calJson,""" +
        s"""$buildJson,"queries":${mapJson(results)},"sf":"$sfDir"}"""
    val compactJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",$calJson,""" +
        s"""$buildJson,"n_queries":${results.size},"queries_full":"target/bench.json",""" +
        s""""queries":${mapJson(slowest)},"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, fullJson.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // BENCHQ lines: the full per-query map in 20-entry chunks, each a
    // complete standalone JSON object ≤ ~500 chars — whatever suffix of
    // stdout a tail capture keeps, every line it keeps is parseable
    // (tools/bench_compare.py regex-scrapes them from a tail fragment).
    results.grouped(20).foreach { chunk => println("BENCHQ " + mapJson(chunk)) }
    println(compactJson)
    spark.stop()
    // LAST stdout lines, after spark.stop() so no straggler log follows:
    // the calibration verdict (spread > ~1.5 = the box was contended and
    // the artifact says so itself) and the headline total.
    println(s"BENCHCAL query=$calName start=${r3(calStart)} mid=${r3(calMid)} " +
      s"end=${r3(calEnd)} spread=${r3(calSpread)}")
    println(s"TOTAL ${r3(total)} ${results.size} entries")
  }
}
