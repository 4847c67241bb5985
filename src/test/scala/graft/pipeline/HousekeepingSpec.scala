package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.controlplane.ControlPlane
import graft.core.Warehouse

class HousekeepingSpec extends SparkSpec {
  import spark.implicits._

  private def whWithTables(): Warehouse = {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_hk_").toString)
    (1 to 3).foreach(i => wh.append("s", "a", Seq((i, s"v$i")).toDF("id", "v")))
    wh.overwrite("s", "b", Seq((1, "x")).toDF("id", "v"))
    wh
  }

  test("compaction workflow compacts every table; statuses roll up") {
    val wh = whWithTables()
    val r = Housekeeping.runCompaction(spark, wh)
    r.assertAllSuccess()
    assert(r.runs.map(_.taskId).count(_.startsWith("compact_")) === 2)
    assert(wh.dataDirs("s", "a").size === 1) // 3 append dirs → 1
  }

  test("compaction jobs run under the job group of the call that started them") {
    // three tables appended twice, so every table needs a rewrite
    def uncompacted(): Warehouse = {
      val wh = new Warehouse(spark, Files.createTempDirectory("graft_hk_").toString)
      Seq("a", "b", "c").foreach(t => (1 to 2).foreach(i =>
        wh.append("s", t, Seq((i, t)).toDF("id", "v"))))
      wh
    }
    val (first, second) = (uncompacted(), uncompacted())
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    // listener events arrive in order, so a marker job's start delimits the
    // jobs started before it
    def mark(id: String): Unit = {
      sc.setJobGroup(id, id, interruptOnCancel = false)
      spark.range(1).count()
    }
    sc.addSparkListener(listener)
    try {
      // an earlier call under another group must not leave its group on the
      // threads of a later call
      sc.setJobGroup("hk-earlier", "earlier housekeeping", interruptOnCancel = false)
      Housekeeping.runCompaction(spark, first).assertAllSuccess()
      mark("hk-marker-1")
      sc.setJobGroup("hk-compaction", "housekeeping under test", interruptOnCancel = false)
      Housekeeping.runCompaction(spark, second).assertAllSuccess()
      mark("hk-marker-2")
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("hk-marker-2") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val compaction = groups.toArray.map(_.toString).toSeq
      .dropWhile(_ != "hk-marker-1").dropWhile(_ == "hk-marker-1")
      .takeWhile(_ != "hk-marker-2")
    assert(compaction.size >= 3, s"one rewrite job per table at least: $compaction")
    assert(compaction.forall(_ == "hk-compaction"), compaction)
    assert(Seq("a", "b", "c").forall(t => second.dataDirs("s", t).size == 1))
  }

  test("metadata prune gate: skips all work when compaction didn't run this month") {
    val wh = whWithTables()
    val skipped = Housekeeping.runMetadataPrune(spark, wh, "1970-01",
      compactionRanThisMonth = false)
    skipped.assertAllSuccess() // skipped counts as ok
    assert(skipped.status("start") === "skipped")
    assert(skipped.runs.filter(_.taskId.startsWith("prune_")).forall(_.status == "skipped"))
    assert(skipped.status("end") === "success") // all_done end ran
    val ran = Housekeeping.runMetadataPrune(spark, wh, "1970-01",
      compactionRanThisMonth = true)
    ran.assertAllSuccess()
    assert(ran.runs.filter(_.taskId.startsWith("prune_")).forall(_.status == "success"))
  }

  test("underscore-ambiguous table names abort instead of silently dropping one") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_hk_").toString)
    // ("a","b_c") and ("a_b","c") both flatten to task id "compact_a_b_c"
    wh.overwrite("a", "b_c", Seq((1, "x")).toDF("id", "v"))
    wh.overwrite("a_b", "c", Seq((1, "y")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](Housekeeping.runCompaction(spark, wh))
    assert(e.getMessage.contains("collide"))
  }

  test("duplicate mart specs abort instead of duplicating workflow task ids") {
    val wh = whWithTables()
    val m = Housekeeping.MartSpec("s", "a", Seq("id"), 4)
    val e = intercept[IllegalArgumentException](
      Housekeeping.runMartRefresh(wh, Seq(m, m)))
    assert(e.getMessage.contains("collide"))
  }

  test("orphan sweep workflow removes stale dirs after compaction") {
    val wh = whWithTables()
    Housekeeping.runCompaction(spark, wh)
    // drop old logs so v1-3 dirs of table a become orphans, then sweep now
    graft.maintenance.Maintenance.pruneMetadataLog(spark, wh, "s", "a", "1970-01")
    val r = Housekeeping.runOrphanSweep(spark, wh, retainMs = 0L)
    r.assertAllSuccess()
    assert(wh.dataDirs("s", "a").size === 1)
    assert(wh.read("s", "a").count() === 3)
  }

  test("ANN maintenance: drifted appends degrade measured recall, the gate " +
    "rebuilds and swaps via the version pointer, recall recovers; a healthy " +
    "index is probed and left alone") {
    import graft.operators.{AnnIndex, Similarity}
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_ann_gate_").toString)
    // Initial corpus A: 4 tight subclusters on axes e0..e3, 20 members
    // each (exact duplicates — ranking ties break on id identically on
    // both sides). Ids 0..3 are one representative per subcluster, so the
    // k-means seeds (lowest ids) hit every cluster.
    def aVec(j: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(j) = 1.0f; v
    }
    val a = (0 until 4).flatMap { j =>
      (0 until 20).map { m =>
        val id = if (m == 0) j.toLong else 1000L + j * 100 + m
        (id, aVec(j))
      }
    }
    // Drift batch B: 2 NEW subclusters on axes e4/e5 the frozen centroids
    // know nothing about, 40 members each. Each member carries (a) a tiny
    // bump on dim (m mod 4) — the ONLY component the stale centroids see,
    // so one subcluster's members scatter deterministically across all
    // four stale lists — and (b) a spread on e6 (0.3 + 0.01·m, also
    // stale-invisible) that defines the TRUE neighbor order, cutting
    // across the bump classes: a member's exact top-5 are its spread
    // neighbors m±1, m±2 — almost never its stale-list mates (m±4k).
    // Probes=1 against the stale lists therefore misses nearly every
    // true B neighbor while A queries stay perfect. Ids 4..7 reserve the
    // next seed slots so the REBUILT k-means (8 lists) seeds land inside
    // the drifted mass.
    def bVec(j: Int, m: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f)
      v(4 + j) = 0.99f
      v(m % 4) = 0.02f
      v(6) = 0.3f + 0.01f * m
      v
    }
    val b = (0 until 2).flatMap { j =>
      (0 until 40).map { m =>
        val id = if (m < 2) (4 + 2 * j + m).toLong else 2000L + j * 100 + m
        (id, bVec(j, m))
      }
    }
    val aDf = a.toDF("vec_id", "embedding")
    wh.overwrite("data", "vecs", aDf)
    AnnIndex.build(wh, "ann", "serving", aDf,
      Similarity.kmeansCentroids(aDf, k = 4, iters = 5))
    val gate = Housekeeping.AnnGateSpec("ann", "serving", "data", "vecs",
      k = 5, probes = 1, minRecallE4 = 9000L, targetListSize = 20L,
      kmeansIters = 5, nQueries = 1000)
    // healthy run: recall is high, nothing is rebuilt, no version bump
    val v0 = wh.currentVersion("ann", "serving_centroids")
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log1 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
    assert(log1.count() === 1)
    val healthy = log1.head()
    assert(!healthy.getAs[Boolean]("rebuilt"))
    assert(healthy.getAs[Long]("recallBeforeE4") >= 9000L)
    assert(wh.currentVersion("ann", "serving_centroids") === v0)
    // drift: append B to the corpus AND the store (append-equals-rebuild
    // keeps the store correct — the data just walked away from the
    // frozen centroids)
    val bDf = b.toDF("vec_id", "embedding")
    wh.append("data", "vecs", bDf)
    AnnIndex.append(wh, "ann", "serving", bDf)
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log2 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .orderBy(col("centroidsVersionAfter").desc).head()
    assert(log2.getAs[Boolean]("rebuilt"), s"drifted index must rebuild: $log2")
    assert(log2.getAs[Long]("recallBeforeE4") < 9000L,
      s"drift must degrade measured recall: $log2")
    assert(log2.getAs[Long]("recallAfterE4") >= 9000L,
      s"rebuild must recover recall: $log2")
    assert(log2.getAs[Long]("centroidsVersionAfter") >
      log2.getAs[Long]("centroidsVersionBefore"))
    assert(log2.getAs[Long]("nListsAfter") === 8L) // ceil(160/20)
    // the swap is the version pointer: the rebuilt lists serve the union
    assert(wh.read("ann", "serving_lists").count() === 160L)
    // a third run over the rebuilt index is healthy again — the loop closes
    val r3 = AnnIndex.recallGate(wh, "ann", "serving",
      wh.read("data", "vecs"), k = 5, probes = 1, minRecallE4 = 9000L,
      targetListSize = 20L, nQueries = 1000)
    assert(!r3.rebuilt && r3.recallBeforeE4 >= 9000L, s"$r3")
  }

  test("ANN maintenance (IVF-PQ): the composed store's gate measures both " +
    "loss sources, rebuilds both frozen models, and the loop closes") {
    import graft.operators.{AnnIndex, Similarity}
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_pq_gate_").toString)
    // same drift geometry as the IVF test: A on e0..e3 (identical members
    // per subcluster), B on e4/e5 with a stale-visible bump (m mod 4) and
    // a stale-invisible spread on e6 that orders true neighbors across
    // bump classes. An ε floor on every dim keeps every 2-dim PQ
    // subvector nonzero (per-subspace cosine needs a nonzero norm).
    def aVec(j: Int): Array[Float] = {
      val v = Array.fill(8)(0.001f); v(j) = 1.0f; v
    }
    val a = (0 until 4).flatMap { j =>
      (0 until 20).map { m =>
        val id = if (m == 0) j.toLong else 1000L + j * 100 + m
        (id, aVec(j))
      }
    }
    def bVec(j: Int, m: Int): Array[Float] = {
      val v = Array.fill(8)(0.001f)
      v(4 + j) = 0.99f
      v(m % 4) = 0.02f
      v(6) = 0.3f + 0.01f * m
      v
    }
    val b = (0 until 2).flatMap { j =>
      (0 until 40).map { m =>
        val id = if (m < 2) (4 + 2 * j + m).toLong else 2000L + j * 100 + m
        (id, bVec(j, m))
      }
    }
    val aDf = a.toDF("vec_id", "embedding")
    wh.overwrite("data", "vecs", aDf)
    AnnIndex.buildIvfPq(wh, "ann", "pqserving", aDf,
      Similarity.kmeansCentroids(aDf, k = 4, iters = 5),
      Similarity.pqCodebooks(aDf, m = 4, k = 8, dim = 8), m = 4, dim = 8)
    val gate = Housekeeping.AnnGateSpec("ann", "pqserving", "data", "vecs",
      k = 5, probes = 1, minRecallE4 = 9000L, targetListSize = 20L,
      kmeansIters = 5, nQueries = 1000, kind = "ivfpq", m = 4, dim = 8,
      pqK = 8, pqIters = 2)
    val v0 = wh.currentVersion("ann", "pqserving_centroids")
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val healthy = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .head()
    info(s"healthy: $healthy")
    assert(!healthy.getAs[Boolean]("rebuilt"))
    assert(healthy.getAs[Long]("recallBeforeE4") >= 9000L,
      s"healthy composed store must serve high recall: $healthy")
    assert(wh.currentVersion("ann", "pqserving_centroids") === v0)
    val bDf = b.toDF("vec_id", "embedding")
    wh.append("data", "vecs", bDf)
    AnnIndex.appendIvfPq(wh, "ann", "pqserving", bDf, m = 4, dim = 8)
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log2 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .orderBy(col("centroidsVersionAfter").desc).head()
    info(s"after drift: $log2")
    assert(log2.getAs[Boolean]("rebuilt"), s"drifted composed store must rebuild: $log2")
    assert(log2.getAs[Long]("recallBeforeE4") < 9000L, s"$log2")
    assert(log2.getAs[Long]("recallAfterE4") > log2.getAs[Long]("recallBeforeE4"),
      s"rebuilding both frozen models must recover recall: $log2")
    assert(log2.getAs[Long]("centroidsVersionAfter") >
      log2.getAs[Long]("centroidsVersionBefore"))
  }

  test("ANN maintenance (IVF-SQ8): drifted appends trip the gate, the rebuild " +
    "re-freezes centroids AND bounds, recall recovers") {
    import graft.operators.{AnnIndex, Similarity}
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_sq8_gate_").toString)
    // the IVF test's geometry verbatim (SQ8's per-dim byte grid is fine
    // enough that quantization noise doesn't disturb these rankings —
    // unlike PQ's code collapse, so the IVF test's hard thresholds hold)
    def aVec(j: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(j) = 1.0f; v
    }
    val a = (0 until 4).flatMap { j =>
      (0 until 20).map { m =>
        val id = if (m == 0) j.toLong else 1000L + j * 100 + m
        (id, aVec(j))
      }
    }
    def bVec(j: Int, m: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f)
      v(4 + j) = 0.99f
      v(m % 4) = 0.02f
      v(6) = 0.3f + 0.01f * m
      v
    }
    val b = (0 until 2).flatMap { j =>
      (0 until 40).map { m =>
        val id = if (m < 2) (4 + 2 * j + m).toLong else 2000L + j * 100 + m
        (id, bVec(j, m))
      }
    }
    val aDf = a.toDF("vec_id", "embedding")
    wh.overwrite("data", "vecs", aDf)
    AnnIndex.buildSq8(wh, "ann", "sq8serving", aDf,
      Similarity.kmeansCentroids(aDf, k = 4, iters = 5),
      Similarity.sq8Bounds(aDf))
    val gate = Housekeeping.AnnGateSpec("ann", "sq8serving", "data", "vecs",
      k = 5, probes = 1, minRecallE4 = 9000L, targetListSize = 20L,
      kmeansIters = 5, nQueries = 1000, kind = "ivfsq8")
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val healthy = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .head()
    assert(!healthy.getAs[Boolean]("rebuilt") &&
      healthy.getAs[Long]("recallBeforeE4") >= 9000L, s"$healthy")
    // drift: B's e4..e7 mass sits entirely OUTSIDE the frozen bounds'
    // active dims — both the lists and the byte grid are stale
    val bDf = b.toDF("vec_id", "embedding")
    wh.append("data", "vecs", bDf)
    AnnIndex.appendSq8(wh, "ann", "sq8serving", bDf)
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log2 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .orderBy(col("centroidsVersionAfter").desc).head()
    assert(log2.getAs[Boolean]("rebuilt"), s"$log2")
    assert(log2.getAs[Long]("recallBeforeE4") < 9000L, s"$log2")
    assert(log2.getAs[Long]("recallAfterE4") >= 9000L,
      s"re-freezing centroids AND bounds must recover recall: $log2")
    assert(log2.getAs[Long]("centroidsVersionAfter") >
      log2.getAs[Long]("centroidsVersionBefore"))
  }

  test("ANN maintenance distortion pre-gate (SQ8): a nominal run skips the " +
    "exact-side recall gate (logged as pregate-skip, store untouched); a " +
    "heavy-tailed append trips it and the recall gate runs") {
    import graft.operators.{AnnIndex, Similarity}
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_pregate_").toString)
    // every dim carries the SAME value distribution → per-dim max_err is
    // flat and the skew statistic sits at exactly 1.0 (10000 e4)
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(d => ((i * 7 + d * 13) % 100) / 100.0f + 0.01f)
    val aDf = (0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    wh.overwrite("data", "vecs", aDf)
    AnnIndex.buildSq8(wh, "ann", "pg", aDf,
      Similarity.kmeansCentroids(aDf, k = 4, iters = 5),
      Similarity.sq8Bounds(aDf))
    val gate = Housekeeping.AnnGateSpec("ann", "pg", "data", "vecs",
      k = 5, probes = 1, minRecallE4 = 0L, targetListSize = 20L,
      kmeansIters = 5, nQueries = 100, kind = "ivfsq8",
      distortionPregate = true)
    val v0 = wh.currentVersion("ann", "pg_centroids")
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log1 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .head()
    assert(log1.getAs[String]("gatePath") === "pregate-skip", s"$log1")
    assert(log1.getAs[Long]("recallBeforeE4") === -1L,
      s"the exact side must not run on a nominal append: $log1")
    assert(!log1.getAs[Boolean]("rebuilt"))
    assert(log1.getAs[Long]("distortionSkewE4") <= gate.maxDistortionSkewE4)
    assert(wh.currentVersion("ann", "pg_centroids") === v0, "store untouched")
    // heavy-tailed append: dim 3 takes a value two orders beyond the rest
    // — the one-(lo,hi)-pair-can't-quantize signal q172 exists to catch
    val hot = Seq((900L, Array.tabulate(8)(d => if (d == 3) 50.0f else 0.5f)))
      .toDF("vec_id", "embedding")
    wh.append("data", "vecs", hot)
    AnnIndex.appendSq8(wh, "ann", "pg", hot)
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log2 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .orderBy(col("distortionSkewE4").desc).head()
    assert(log2.getAs[String]("gatePath") === "recall-gate", s"$log2")
    assert(log2.getAs[Long]("distortionSkewE4") > gate.maxDistortionSkewE4)
    assert(log2.getAs[Long]("recallBeforeE4") >= 0L,
      s"the tripped pre-gate must hand off to the measured recall gate: $log2")
  }

  test("ANN maintenance distortion pre-gate (IVF-PQ): skew is measured vs " +
    "the STORED codebooks — nominal skips, an under-covered subspace trips") {
    import graft.operators.{AnnIndex, Similarity}
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_pqpre_").toString)
    // every 2-dim subspace carries the SAME (x, y) distribution → the four
    // learned codebooks coincide and per-subspace sum_sq_err is flat
    def vec(i: Int): Array[Float] = {
      val x = ((i * 7) % 100) / 100.0f + 0.01f
      val y = ((i * 13) % 100) / 100.0f + 0.01f
      Array.tabulate(8)(d => if (d % 2 == 0) x else y)
    }
    val aDf = (0 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    wh.overwrite("data", "vecs", aDf)
    AnnIndex.buildIvfPq(wh, "ann", "pqpg", aDf,
      Similarity.kmeansCentroids(aDf, k = 4, iters = 5),
      Similarity.pqCodebooks(aDf, m = 4, k = 8, dim = 8), m = 4, dim = 8)
    val gate = Housekeeping.AnnGateSpec("ann", "pqpg", "data", "vecs",
      k = 5, probes = 1, minRecallE4 = 0L, targetListSize = 20L,
      kmeansIters = 5, nQueries = 100, kind = "ivfpq", m = 4, dim = 8,
      pqK = 8, distortionPregate = true)
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log1 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .head()
    assert(log1.getAs[String]("gatePath") === "pregate-skip", s"$log1")
    // the append's mass sits far outside subspace 3's frozen codebook
    // cells — the raise-k-or-resplit signal q174 exists to catch
    val hot = Seq((900L, Array.tabulate(8)(d => if (d >= 6) 100.0f else 0.5f)))
      .toDF("vec_id", "embedding")
    wh.append("data", "vecs", hot)
    AnnIndex.appendIvfPq(wh, "ann", "pqpg", hot, m = 4, dim = 8)
    Housekeeping.runAnnMaintenance(spark, wh, Seq(gate)).assertAllSuccess()
    val log2 = wh.read(Housekeeping.AnnGateLogSchema, Housekeeping.AnnGateLogTable)
      .orderBy(col("distortionSkewE4").desc).head()
    assert(log2.getAs[String]("gatePath") === "recall-gate", s"$log2")
    assert(log2.getAs[Long]("recallBeforeE4") >= 0L)
  }

  test("completion report renders per-source and total rows") {
    val tasks = Seq(
      ("src_a", "staging", "t1", "success"), ("src_a", "staging", "t2", "failed"),
      ("src_b", "vault", "t1", "success")
    ).toDF("source_name", "schema_name", "task_id", "status")
    val html = ControlPlane.renderCompletionReport(ControlPlane.completionReport(tasks))
      .orderBy("source_name")
    val rows = html.select("html_row").as[String].collect()
    assert(rows.length === 3)
    assert(rows.exists(_.contains("<td>src_a</td>")))
    assert(rows.exists(_.contains("<td>TOTAL</td>")))
  }

  test("mart refresh publishes a bucketed mart per spec and rolls up") {
    val wh = whWithTables()
    // drop catalog entries AND stale directories — a previous JVM's run
    // leaves managed-table dirs the fresh in-memory catalog doesn't know,
    // and saveAsTable refuses to create over an existing location
    val whDir = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "graft_mart.db")
    Seq("s_a", "s_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_mart.$t")
      val d = new java.io.File(whDir, t)
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    val r = Housekeeping.runMartRefresh(wh, Seq(
      Housekeeping.MartSpec("s", "a", Seq("id"), 4),
      Housekeeping.MartSpec("s", "b", Seq("id"), 4)))
    r.assertAllSuccess()
    assert(spark.table("graft_mart.s_a").count() === 3)
    assert(spark.table("graft_mart.s_b").count() === 1)
    // the published mart is genuinely bucketed (catalog metadata, not luck)
    val desc = spark.sql("DESCRIBE EXTENDED graft_mart.s_a").collect()
      .map(_.mkString("|")).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("4"), desc)
  }
}
