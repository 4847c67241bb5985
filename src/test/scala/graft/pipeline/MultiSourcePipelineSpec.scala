package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Tables, Warehouse}

/** The 19-source multi-source vault: root graph triggers per-source
  * staging/vault SUB-workflows into shared entities, with per-source
  * isolation and the triggered-vs-manual run-registration split. */
class MultiSourcePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (Warehouse, MultiSourcePipeline) = {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_multi_").toString)
    (wh, new MultiSourcePipeline(spark, wh))
  }

  /** 19 sources like the reference's source_dict: 7 'exact' + 12 'nhamay'
    * (prefixed), each a distinct slice of the customer fixture. */
  private def nineteenSources(p: MultiSourcePipeline,
                              failing: Set[String] = Set.empty): Seq[p.MultiSource] = {
    val names = (1 to 7).map(i => (s"exact10$i", "")) ++
      (1 to 12).map(i => (s"nhamay$i", s"src_${i}_"))
    names.zipWithIndex.map { case ((name, prefix), i) =>
      p.MultiSource(name, s"ds_$name", prefix,
        load = () =>
          if (failing(name)) throw new RuntimeException(s"source $name unavailable")
          else Tables(spark, sf, "customer")
            .filter(col("c_custkey") % 19 === i)
            .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
        businessKeys = Seq("c_custkey"),
        attrs = Seq("c_name", "c_mktsegment"))
    }
  }

  test("19 sources fan into the shared entity via sub-workflows") {
    val (wh, p) = fresh()
    val sources = nineteenSources(p)
    val (result, children) = p.run("customer", sources, "2024-01-01")
    result.assertAllSuccess()
    // every trigger task ran a real child workflow with its own statuses
    assert(children.size === 38) // staging + vault per source
    assert(children.values.forall(_.allSuccess))
    // shared entity holds every source's rows, lineage via record_source
    val hub = wh.read("raw_vault", "hub_customer")
    assert(hub.select("record_source").distinct().count() === 19)
    assert(hub.count() ===
      Tables(spark, sf, "customer").select("c_custkey").distinct().count())
    // prefixed staging tables exist (reference prefix_sources)
    assert(wh.read("staging", "src_3_nhamay3").count() > 0)
    // root registered one 'running' row per source, then one terminal row
    val log = wh.read("op_metadata", "multi_run_log")
    assert(log.filter(col("status") === "running").count() === 19)
    assert(log.filter(col("status") === "success").count() === 19)
  }

  test("sources sharing a business key leave one hub row; a second run adds none") {
    val (wh, p) = fresh()
    def src(name: String, keys: Seq[Long]) = p.MultiSource(name, s"ds_$name", "",
      load = () => keys.map(k => (k, s"n$k", "SEG")).toDF("c_custkey", "c_name", "c_mktsegment"),
      businessKeys = Seq("c_custkey"), attrs = Seq("c_name", "c_mktsegment"))
    val sources = Seq(src("a", Seq(1L, 2L)), src("b", Seq(2L, 3L)))
    p.run("customer", sources, "2024-01-01")._1.assertAllSuccess()
    val hub = wh.read("raw_vault", "hub_customer")
    assert(hub.count() === 3)
    // key 2 keeps the record_source of the first source that loaded it
    assert(hub.filter(col("c_custkey") === 2L).select("record_source").as[String]
      .collect().toSeq === Seq("ds_a"))
    assert(wh.read("raw_vault", "sat_customer").count() === 3)
    // the same sources on the next date: nothing new, nothing changed
    p.run("customer", sources, "2024-01-02")._1.assertAllSuccess()
    assert(wh.read("raw_vault", "hub_customer").count() === 3)
    assert(wh.read("raw_vault", "sat_customer").count() === 3)
  }

  test("one failing source does not poison the other 18") {
    val (wh, p) = fresh()
    val sources = nineteenSources(p, failing = Set("nhamay5"))
    val (result, children) = p.run("customer", sources, "2024-01-01")
    // the failing source's staging trigger failed; its vault trigger still
    // fires (none_skipped, like the reference's TriggerDagRun) and fails on
    // the missing staging table
    assert(result.status("trigger_staging_nhamay5") === "failed")
    assert(result.status("trigger_vault_nhamay5") === "failed")
    // all other sources completed
    sources.filterNot(_.name == "nhamay5").foreach { s =>
      assert(result.status(s"trigger_vault_${s.name}") === "success", s.name)
    }
    // shared entity has the 18 healthy sources
    assert(wh.read("raw_vault", "hub_customer")
      .select("record_source").distinct().count() === 18)
    // end rollup ran (all_done) and recorded the failed source
    val terminal = wh.read("op_metadata", "multi_run_log")
      .filter(col("status") =!= "running")
      .select("source_name", "status").as[(String, String)].collect().toMap
    assert(terminal("nhamay5") === "failed")
    assert(terminal("exact101") === "success")
    // but the overall rollup raises, like the reference's check_state
    intercept[IllegalStateException](result.assertAllSuccess())
  }

  test("manual sub-pipeline registers its own run row; triggered does not") {
    val (wh, p) = fresh()
    val src = nineteenSources(p).head
    // triggered path: root assigns ids; no extra registration rows
    p.run("customer", Seq(src), "2024-01-01")
    val afterTriggered = wh.read("op_metadata", "multi_run_log")
      .filter(col("created_by") =!= "root").count()
    assert(afterTriggered === 0L, "triggered runs must reuse the root-assigned run_id")
    // manual path: mints a fresh uuid and registers created_by = dag type
    val res = p.runVaultManually("customer", src, "2024-01-01")
    assert(res.allSuccess)
    val manual = wh.read("op_metadata", "multi_run_log")
      .filter(col("created_by") === "datavault")
    assert(manual.count() === 1L)
    assert(manual.select("status").head().getString(0) === "running")
  }
}
