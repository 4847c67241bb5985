package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.{Tables, Warehouse}
import graft.operators.{Decontaminate, DecontamStore}

/** Decontam lifecycle: benchmark gram hashes persist once (per-benchmark
  * appends), corpus batches stream through the frozen store, and the
  * accumulated verdicts equal the one-shot check row-for-row — the
  * store-parity anchor q169 pins against q42's oracle, exercised here
  * through a REAL checkpointed file stream. */
class DecontamStoreSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  private def docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
  private def evalDocs = docs.filter(col("doc_id") % 97 === 0)
  private def corpus = docs.filter(col("doc_id") % 97 =!= 0)

  test("store-served check equals the one-shot path after split registration; " +
    "multi-n registrations stay isolated") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dcs_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "even",
      evalDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 4)
    DecontamStore.registerBenchmark(wh, "g", "dc", "odd",
      evalDocs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", n = 4)
    // a second n on the same store must not perturb n=4 serving
    DecontamStore.registerBenchmark(wh, "g", "dc", "even",
      evalDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", n = 3)

    val oneShot = asMap(Decontaminate.contaminated(
      corpus, evalDocs, "doc_id", "text", n = 4))
    assert(oneShot.nonEmpty, "fixture must contain contamination")
    assert(asMap(DecontamStore.contaminated(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4)) === oneShot)

    val reg = DecontamStore.registered(wh, "g", "dc")
      .select("bench_id", "n_gram").as[(String, Long)].collect().toSet
    assert(reg === Set(("even", 4L), ("odd", 4L), ("even", 3L)))
  }

  test("streamed corpus batches accumulate verdicts equal to the one-shot " +
    "check; a re-run with no new files appends nothing") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dcv_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    val srcDir = Files.createTempDirectory("graft_dcv_src_").toString
    val ckpt = Files.createTempDirectory("graft_dcv_ck_").toString
    corpus.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$srcDir/batch1.parquet")
    corpus.filter(col("doc_id") % 2 =!= 0)
      .coalesce(1).write.parquet(s"$srcDir/batch2.parquet")
    def ingestAvailable(): Unit = {
      val q = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1") // two micro-batches
        .parquet(s"$srcDir/*.parquet")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          DecontamStore.checkBatch(wh, "g", "dc", b, "doc_id", "text", n = 4)
        }
        .start()
      q.awaitTermination()
    }
    ingestAvailable()
    val oneShot = asMap(Decontaminate.contaminated(
      corpus, evalDocs, "doc_id", "text", n = 4))
    assert(asMap(DecontamStore.verdicts(wh, "g", "dc")) === oneShot)

    val before = DecontamStore.verdicts(wh, "g", "dc").count()
    ingestAvailable()
    assert(DecontamStore.verdicts(wh, "g", "dc").count() === before,
      "a run with no new files must not grow the verdict store")
  }

  // the no-exchange-before-broadcast property, asserted by walking the
  // executed plan tree (robust to AQE/version plan reshaping); shared by
  // the single-n serve and the fused multi-n curve serve
  private def assertExchangeFreeServe(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    assert(df.count() > 0L) // materialize so AQE finalizes the plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val nodes = flatten(df.queryExecution.executedPlan)
    val bhjs = nodes.collect { case b: BroadcastHashJoinExec => b }
    assert(bhjs.size === 1, "expected exactly one broadcast join on the serve " +
      s"path:\n${df.queryExecution.executedPlan}")
    val streamed = flatten(
      if (bhjs.head.buildSide == BuildLeft) bhjs.head.right else bhjs.head.left)
    assert(!streamed.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "a shuffle appeared between the corpus scan and the broadcast join:\n" +
        df.queryExecution.executedPlan)
    assert(streamed.exists(n => n.children.isEmpty &&
      n.toString.toLowerCase.contains("parquet")),
      "the streamed side of the broadcast join is not the corpus scan:\n" +
        df.queryExecution.executedPlan)
  }

  test("serve plan: the corpus scan reaches the BroadcastHashJoin with NO " +
    "shuffle on its streamed side (the property itself, asserted by walking " +
    "the executed plan tree — robust to AQE/version plan reshaping)") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dcp_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    assertExchangeFreeServe(DecontamStore.contaminated(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4))
  }

  test("fused multi-n serve plan holds the same property: the single corpus " +
    "scan (explode of the concat'd per-n gram structs) reaches the broadcast " +
    "join with no exchange on the streamed side") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dcpm_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 3)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    assertExchangeFreeServe(DecontamStore.contaminatedMultiN(
      wh, "g", "dc", corpus, "doc_id", "text", ns = Seq(3, 4)))
  }

  test("duplicate n-gram sizes are rejected loudly (a silent double-concat " +
    "would inflate n_eval_grams while the store side stays distinct)") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dcd_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    val e = intercept[IllegalArgumentException] {
      DecontamStore.contaminatedMultiN(
        wh, "g", "dc", corpus, "doc_id", "text", ns = Seq(4, 4))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("retire lifecycle: register two benchmarks, serve, retire one — " +
    "invalidation is SURGICAL (surviving verdicts stand with NO re-feed), " +
    "re-feeds append nothing, and a retired (benchId, n) registers fresh") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dcr_wh_").toString)
    val evenEval = evalDocs.filter(col("doc_id") % 2 === 0)
    val oddEval = evalDocs.filter(col("doc_id") % 2 =!= 0)
    DecontamStore.registerBenchmark(wh, "g", "dc", "even", evenEval,
      "doc_id", "text", n = 4)
    DecontamStore.registerBenchmark(wh, "g", "dc", "odd", oddEval,
      "doc_id", "text", n = 4)
    DecontamStore.checkBatch(wh, "g", "dc", corpus, "doc_id", "text", n = 4)
    assert(DecontamStore.verdicts(wh, "g", "dc").count() > 0L)
    // the append is idempotent at (doc, n_gram, gh): re-feeding the same
    // corpus (a retried DAG task) appends no detail rows
    val detailBefore = DecontamStore.verdictDetail(wh, "g", "dc").count()
    DecontamStore.checkBatch(wh, "g", "dc", corpus, "doc_id", "text", n = 4)
    assert(DecontamStore.verdictDetail(wh, "g", "dc").count() === detailBefore,
      "a re-fed batch must not grow the verdict detail")

    DecontamStore.retireBenchmark(wh, "g", "dc", "even")
    // gram rows: only the surviving benchmark remains, across all n
    assert(DecontamStore.registered(wh, "g", "dc")
      .select("bench_id").as[String].collect().toSet === Set("odd"))
    // the re-serve equals a one-shot check against the SURVIVING eval set
    assert(asMap(DecontamStore.contaminated(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4)) ===
      asMap(Decontaminate.contaminated(corpus, oddEval, "doc_id", "text", n = 4)))
    // SURGICAL invalidation: with NO corpus re-feed, the surviving verdicts
    // already equal the one-shot answer against the surviving eval set —
    // retirement cost is verdict-table-scale, never a 100 TB re-feed
    assert(asMap(DecontamStore.verdicts(wh, "g", "dc")) ===
      asMap(Decontaminate.contaminated(corpus, oddEval, "doc_id", "text", n = 4)))
    // and a re-feed after retirement appends NOTHING (all surviving keys
    // are already stored)
    val detailAfterRetire = DecontamStore.verdictDetail(wh, "g", "dc").count()
    DecontamStore.checkBatch(wh, "g", "dc", corpus, "doc_id", "text", n = 4)
    assert(DecontamStore.verdictDetail(wh, "g", "dc").count() === detailAfterRetire,
      "a post-retirement re-feed must not grow the verdict detail")
    assert(asMap(DecontamStore.verdicts(wh, "g", "dc")) ===
      asMap(Decontaminate.contaminated(corpus, oddEval, "doc_id", "text", n = 4)))
    // retiring an id with no gram rows is a no-op: nothing is rewritten
    // (the gram set is unchanged, so every verdict is still valid)
    val gramVersionBefore = wh.currentVersion("g", "dc_eval_grams")
    val verdictVersionBefore = wh.currentVersion("g", "dc_verdicts")
    DecontamStore.retireBenchmark(wh, "g", "dc", "even") // already retired
    DecontamStore.retireBenchmark(wh, "g", "dc", "typo_no_such_bench")
    assert(wh.currentVersion("g", "dc_eval_grams") === gramVersionBefore)
    assert(wh.currentVersion("g", "dc_verdicts") === verdictVersionBefore)
    // a retired id registers fresh (the idempotence probe sees no rows);
    // a re-feed then appends exactly the re-registered benchmark's rows
    DecontamStore.registerBenchmark(wh, "g", "dc", "even", evenEval,
      "doc_id", "text", n = 4)
    DecontamStore.checkBatch(wh, "g", "dc", corpus, "doc_id", "text", n = 4)
    assert(asMap(DecontamStore.verdicts(wh, "g", "dc")) ===
      asMap(Decontaminate.contaminated(corpus, evalDocs, "doc_id", "text", n = 4)))
    // retiring from a store that was never created is a no-op
    DecontamStore.retireBenchmark(wh, "g", "nosuch", "even")
  }

  test("registration is idempotent at (benchId, n): a retried registration " +
    "is a no-op — gram rows and attribution counts unchanged") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dci_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    val gramsOnce = DecontamStore.evalGrams(wh, "g", "dc", 4).count()
    val attrOnce = DecontamStore.attribution(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4)
      .agg(sum(col("n_shared_grams"))).as[Long].head()
    // the retry: same (benchId, n), even with a DIFFERENT eval frame —
    // the store keeps the first registration
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      corpus.limit(3), "doc_id", "text", n = 4)
    assert(DecontamStore.evalGrams(wh, "g", "dc", 4).count() === gramsOnce)
    assert(DecontamStore.attribution(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4)
      .agg(sum(col("n_shared_grams"))).as[Long].head() === attrOnce)
    // a NEW (benchId, n) still appends
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench2",
      evalDocs.limit(1), "doc_id", "text", n = 4)
    assert(DecontamStore.evalGrams(wh, "g", "dc", 4).count() > gramsOnce)
  }

  test("attribution accounts for every verdict hit (a corpus gram matching " +
    "k eval docs contributes k attribution rows but one verdict gram)") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_dca_wh_").toString)
    DecontamStore.registerBenchmark(wh, "g", "dc", "bench",
      evalDocs, "doc_id", "text", n = 4)
    val attributed = DecontamStore.attribution(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4)
      .agg(sum(col("n_shared_grams"))).as[Long].head()
    val verdictGrams = DecontamStore.contaminated(
      wh, "g", "dc", corpus, "doc_id", "text", n = 4)
      .agg(sum(col("n_eval_grams"))).as[Long].head()
    assert(attributed >= verdictGrams)
    assert(verdictGrams > 0L)
  }
}
