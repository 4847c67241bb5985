package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Tables, Warehouse}

/** End-to-end daily run over the fixtures: staging → drift gate → vault →
  * rollup → date close; re-run resume; drift branch. */
class DailyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshSetup(): (Warehouse, DailyPipeline) = {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_pipe_").toString)
    wh.overwrite("op_metadata", "etl_dates",
      Seq(("2024-01-01", 0, null.asInstanceOf[String], 0),
        ("2024-01-02", 0, null.asInstanceOf[String], 0))
        .toDF("etl_date", "holiday_flag", "status", "current_date_flag"))
    (wh, new DailyPipeline(spark, wh))
  }

  private def customersSpec(p: DailyPipeline, extraCol: Boolean = false): p.SourceSpec =
    p.SourceSpec("customer",
      load = () => {
        val df = Tables(spark, sf, "customer")
        if (extraCol) df.withColumn("new_col", lit(1)) else df
      },
      businessKeys = Seq("c_custkey"),
      attrs = Seq("c_name", "c_mktsegment"))

  private def ordersSpec(p: DailyPipeline): p.SourceSpec =
    p.SourceSpec("orders",
      load = () => Tables(spark, sf, "orders").limit(500),
      businessKeys = Seq("o_orderkey"),
      attrs = Seq("o_orderstatus", "o_orderpriority"),
      linkTo = Some(("customer", Seq("o_custkey"))))

  test("daily run stages, vaults, rolls up, and closes the date") {
    val (wh, p) = freshSetup()
    val (date, result) = p.run(Seq(customersSpec(p), ordersSpec(p)))
    assert(date === "2024-01-01")
    result.assertAllSuccess()
    // staging + vault tables exist with rows
    assert(wh.read("staging", "customer").count() > 0)
    assert(wh.read("raw_vault", "hub_customer").count() ===
      Tables(spark, sf, "customer").select("c_custkey").distinct().count())
    assert(wh.read("raw_vault", "link_orders_customer").count() === 500)
    assert(wh.read("raw_vault", "sat_orders").count() > 0)
    // drift branch not taken on first run
    assert(!wh.exists("check", "email_notification"))
    // date closed
    assert(wh.read("op_metadata", "etl_dates")
      .filter(col("etl_date") === date).select("status").as[String].head() === "success")
  }

  test("second run picks the next date; rerun of a closed day is resume-safe") {
    val (wh, p) = freshSetup()
    val specs = Seq(customersSpec(p))
    val (d1, r1) = p.run(specs)
    r1.assertAllSuccess()
    val (d2, r2) = p.run(specs)
    r2.assertAllSuccess()
    assert(d1 === "2024-01-01" && d2 === "2024-01-02")
    // hub merge is idempotent across the two runs
    assert(wh.read("raw_vault", "hub_customer").count() ===
      Tables(spark, sf, "customer").select("c_custkey").distinct().count())
  }

  test("day 2 keeps first sightings, closes changed versions, and replays idempotently") {
    val (wh, p) = freshSetup()
    var day = 1
    // day 2 changes key 1's segment and admits key 4 (and order 12 of it)
    val cust = p.SourceSpec("cust",
      load = () => {
        val rows = Seq((1L, "ann", "A"), (2L, "bob", "B"), (3L, "cy", "C"))
        (if (day == 1) rows
         else rows.map { case (1L, n, _) => (1L, n, "Z"); case r => r } :+ ((4L, "dee", "D")))
          .toDF("c_key", "c_name", "c_seg")
      },
      businessKeys = Seq("c_key"), attrs = Seq("c_name", "c_seg"))
    val ord = p.SourceSpec("ord",
      load = () => {
        val rows = Seq((10L, 1L, "O"), (11L, 2L, "O"))
        (if (day == 1) rows else rows :+ ((12L, 4L, "O"))).toDF("o_key", "o_cust", "o_status")
      },
      businessKeys = Seq("o_key"), attrs = Seq("o_status"),
      linkTo = Some(("cust", Seq("o_cust"))))
    val specs = Seq(cust, ord)
    p.run(specs)._2.assertAllSuccess()
    day = 2
    val (d2, r2) = p.run(specs)
    r2.assertAllSuccess()
    assert(d2 === "2024-01-02")

    // re-sighted hub and link rows keep day 1's load_date
    def hubDates(t: String, key: String): Map[Long, String] =
      wh.read("raw_vault", t).select(key, "load_date").as[(Long, String)].collect().toMap
    assert(hubDates("hub_cust", "c_key") === Map(1L -> "2024-01-01", 2L -> "2024-01-01",
      3L -> "2024-01-01", 4L -> "2024-01-02"))
    assert(hubDates("hub_ord", "o_key") === Map(10L -> "2024-01-01", 11L -> "2024-01-01",
      12L -> "2024-01-02"))
    assert(wh.read("raw_vault", "link_ord_cust").select("load_date").as[String]
      .collect().sorted.toSeq === Seq("2024-01-01", "2024-01-01", "2024-01-02"))

    val sat = wh.read("raw_vault", "sat_cust")
    // exactly one open version per key
    val open = sat.filter(col("load_end_date").isNull).groupBy("sat_cust_hash_key").count()
    assert(open.count() === 4)
    assert(open.select("count").as[Long].collect().forall(_ === 1L))
    // the changed key's day-1 version closes on day 2
    assert(sat.filter(col("c_name") === "ann" && col("c_seg") === "A")
      .select("load_end_date").as[String].collect().toSeq === Seq("2024-01-02"))
    // unchanged keys have no day-2 row: only the changed and the new key do
    assert(sat.filter(col("load_date") === "2024-01-02").select("c_name").as[String]
      .collect().toSet === Set("ann", "dee"))
    assert(wh.read("raw_vault", "sat_ord").filter(col("load_date") === "2024-01-02")
      .count() === 1)

    // re-running the vault task for day 2 changes no raw-vault row count
    val tables = Seq("hub_cust", "sat_cust", "hub_ord", "sat_ord", "link_ord_cust")
    def counts: Map[String, Long] = tables.map(t => t -> wh.read("raw_vault", t).count()).toMap
    val before = counts
    specs.foreach(p.vaultSource(_, d2))
    assert(counts === before)
  }

  test("a failing source persists rendered error-report rows") {
    val (wh, p) = freshSetup()
    val bad = p.SourceSpec("broken",
      load = () => throw new RuntimeException("source down"),
      businessKeys = Seq("k"), attrs = Seq("v"))
    val (_, r) = p.run(Seq(customersSpec(p), bad))
    intercept[IllegalStateException](r.assertAllSuccess())
    val report = wh.read("check", "error_report")
    assert(report.filter(col("source_name") === "broken" &&
      col("task_id") === "staging_broken").count() === 1)
    assert(report.select("html_row").as[String].collect()
      .forall(_.startsWith("<tr>")))
    // healthy source untouched by the neighbor's failure
    assert(wh.read("raw_vault", "hub_customer").count() > 0)
  }

  test("an injected short load fails the record-count check and the source run") {
    val (wh, p) = freshSetup()
    // call 1 (staging) loads 400 rows; call 2 (check_records) sees the
    // source's true 500 — the classic short-load the reference's
    // check_num_of_records task exists to catch
    var calls = 0
    val flaky = p.SourceSpec("orders",
      load = () => {
        calls += 1
        val o = Tables(spark, sf, "orders")
        if (calls == 1) o.limit(400) else o.limit(500)
      },
      businessKeys = Seq("o_orderkey"),
      attrs = Seq("o_orderstatus"))
    val (date, r) = p.run(Seq(customersSpec(p), flaky))
    intercept[IllegalStateException](r.assertAllSuccess())
    assert(r.status("check_records") === "failed")
    val rep = wh.read("check", "record_count")
    assert(rep.filter(col("source_name") === "orders" &&
      col("status") === "mismatch" && col("source_n") === 500 &&
      col("staging_n") === 400 && col("vault_missing_n") === 0).count() === 1)
    assert(rep.filter(col("source_name") === "customer" &&
      col("status") === "match").count() === 1)
    // only the short source's run fails; the clean one stays green
    val runs = wh.read("op_metadata", "run_log")
    assert(runs.filter(col("source_name") === "orders")
      .select("status").as[String].head() === "failed")
    assert(runs.filter(col("source_name") === "customer")
      .select("status").as[String].head() === "success")
    // and the date stays open for a re-run
    assert(wh.read("op_metadata", "etl_dates")
      .filter(col("etl_date") === date).select("status").as[String].head() === null)
  }

  test("one run evaluates the source once for staging and once for check_records") {
    val (_, p) = freshSetup()
    val evaluated = spark.sparkContext.longAccumulator("source rows evaluated")
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val counted = p.SourceSpec("counted",
      load = () => spark.createDataFrame(rows.rdd.map { r => evaluated.add(1); r }, rows.schema),
      businessKeys = Seq("k"), attrs = Seq("v"))
    p.run(Seq(counted))._2.assertAllSuccess()
    assert(evaluated.value === 2 * 3)
  }

  test("schema drift routes to the notification branch and still completes") {
    val (wh, p) = freshSetup()
    val (_, r1) = p.run(Seq(customersSpec(p)))
    r1.assertAllSuccess()
    val (_, r2) = p.run(Seq(customersSpec(p, extraCol = true)))
    r2.assertAllSuccess()
    assert(r2.status("notify_drift_customer") === "success")
    val drift = wh.read("check", "schemadrift_tablechangedetail")
    assert(drift.filter(col("column_name") === "new_col" && col("status") === "I").count() === 1)
    // table-level summary row, applied in the same run (is_updated=1)
    val summary = wh.read("check", "schemadrift_tablechange")
    assert(summary.filter(col("table_name") === "customer" &&
      col("is_updated") === 1).count() === 1)
    assert(wh.read("check", "email_notification").count() === 1)
  }
}
