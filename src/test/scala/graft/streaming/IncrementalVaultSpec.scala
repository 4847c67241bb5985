package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.Warehouse

/** Incremental vault: two AvailableNow runs over a growing directory load
  * exactly the delta (checkpoint), idempotently, into hub + satellite. */
class IncrementalVaultSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ck", StringType), StructField("load_date", StringType),
    StructField("status", StringType)))

  test("crash after side effects but before epoch commit replays exactly-once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val srcDir = Files.createTempDirectory("graft_ivr_src_").toString
    val ckpt = Files.createTempDirectory("graft_ivr_ck_").toString
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_ivr_wh_").toString)

    Seq(("k1", "2024-01-01", "A"), ("k2", "2024-01-01", "X"))
      .toDF("ck", "load_date", "status")
      .coalesce(1).write.parquet(s"$srcDir/batch1.parquet")
    IncrementalVault.ingest(spark, wh, srcDir, schema, "cust",
      Seq("ck"), Seq("status"), "load_date", ckpt)

    // batch 2 lands; the query dies AFTER the warehouse writes but BEFORE
    // the checkpoint commits the epoch — the classic failure window where
    // the batch will replay on restart
    Seq(("k3", "2024-01-02", "N"), ("k1", "2024-01-02", "B"))
      .toDF("ck", "load_date", "status")
      .coalesce(1).write.parquet(s"$srcDir/batch2.parquet")
    val crashing = spark.readStream.schema(schema).parquet(s"$srcDir/*.parquet")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          IncrementalVault.loadDelta(wh, b, "cust", Seq("ck"), Seq("status"), "load_date")
          throw new RuntimeException("injected crash before epoch commit")
        }
      }
      .start()
    intercept[StreamingQueryException](crashing.awaitTermination())
    // the side effects of the doomed epoch ARE in the warehouse
    assert(wh.read("raw_vault", "hub_cust").count() === 3)

    // restart from the same checkpoint: batch 2 replays on top of its own
    // partial effects; the anti-join hub append and the satellite
    // re-versioning absorb the replay, so the result equals the
    // never-crashed run
    IncrementalVault.ingest(spark, wh, srcDir, schema, "cust",
      Seq("ck"), Seq("status"), "load_date", ckpt)
    val hub = wh.read("raw_vault", "hub_cust")
    assert(hub.count() === 3)
    assert(hub.select("ck").distinct().count() === 3)
    val sat = wh.read("raw_vault", "sat_cust")
    assert(sat.count() === 4) // k1:A, k1:B, k2:X, k3:N — no replay dups
    assert(sat.groupBy("sat_cust_hash_key", "load_date", "hash_diff")
      .count().filter(col("count") > 1).isEmpty)
  }

  test("AvailableNow ingest merges only new files; close-off versions history") {
    val srcDir = Files.createTempDirectory("graft_iv_src_").toString
    val ckpt = Files.createTempDirectory("graft_iv_ck_").toString
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_iv_wh_").toString)

    Seq(("k1", "2024-01-01", "A"), ("k2", "2024-01-01", "X"))
      .toDF("ck", "load_date", "status")
      .coalesce(1).write.parquet(s"$srcDir/batch1.parquet")
    IncrementalVault.ingest(spark, wh, srcDir, schema, "cust",
      Seq("ck"), Seq("status"), "load_date", ckpt)
    assert(wh.read("raw_vault", "hub_cust").count() === 2)
    assert(wh.read("raw_vault", "sat_cust").count() === 2)

    // second batch: one new key, one changed key, one unchanged duplicate
    Seq(("k3", "2024-01-02", "N"), ("k1", "2024-01-02", "B"), ("k2", "2024-01-02", "X"))
      .toDF("ck", "load_date", "status")
      .coalesce(1).write.parquet(s"$srcDir/batch2.parquet")
    IncrementalVault.ingest(spark, wh, srcDir, schema, "cust",
      Seq("ck"), Seq("status"), "load_date", ckpt)

    val hub = wh.read("raw_vault", "hub_cust")
    assert(hub.count() === 3)
    // k1's hub load_date stays the FIRST sighting
    assert(hub.filter(col("ck") === "k1").select("load_date").as[String].head() === "2024-01-01")

    val sat = wh.read("raw_vault", "sat_cust")
    // k1: A then B — A's window closes at B's load date, B stays open
    assert(sat.filter(col("status") === "A").select("load_end_date").as[String].head()
      === "2024-01-02")
    assert(sat.filter(col("status") === "B").select("load_end_date").as[String].head() === null)
    // cross-batch compression: k2's unchanged X arriving again in batch2
    // must NOT open a second version
    assert(sat.filter(col("status") === "X").count() === 1)

    // third run with no new files: nothing changes (checkpoint)
    val hubV = wh.currentVersion("raw_vault", "hub_cust")
    IncrementalVault.ingest(spark, wh, srcDir, schema, "cust",
      Seq("ck"), Seq("status"), "load_date", ckpt)
    assert(wh.currentVersion("raw_vault", "hub_cust") === hubV)
  }
}
