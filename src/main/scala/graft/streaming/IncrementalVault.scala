package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.core.Warehouse
import graft.vault.Vault

/** Incremental Data Vault loading: new source files land in a directory;
  * each `Trigger.AvailableNow` run processes exactly the unseen files
  * (checkpointed file index) and loads the delta into `hub_{name}` and
  * `sat_{name}` via `foreachBatch` through the same [[Vault]] loaders the
  * daily pipeline uses — now exactly-once incremental. This is SURVEY §7's
  * incremental plan: the reference's daily batch becomes a standing ingest
  * without a second engine.
  *
  * Each micro-batch is one day/hour of arrivals. The hub load anti-joins
  * the delta against the stored hash keys and appends only unseen keys. The
  * satellite load re-versions the stored rows plus the delta and rewrites
  * the table once per batch, so versions close as the stream runs. A batch
  * replayed after a crash (side effects written, epoch not committed) adds
  * no hub row and no satellite version.
  */
object IncrementalVault {

  /** Stream a source directory into the hub and satellite tables.
    * `businessKeys`/`attrs` as in Vault; blocks until available data is
    * processed. */
  def ingest(spark: SparkSession, wh: Warehouse, sourceDir: String,
             sourceSchema: StructType, name: String,
             businessKeys: Seq[String], attrs: Seq[String],
             loadDateCol: String, checkpoint: String): Unit = {
    val stream = spark.readStream.schema(sourceSchema).parquet(s"$sourceDir/*.parquet")
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) loadDelta(wh, batch, name, businessKeys, attrs, loadDateCol)
      }
      .start()
    q.awaitTermination()
  }

  /** Load one delta batch: each new key's earliest sighting into the hub,
    * the batch's rows into the re-versioned satellite. */
  private[streaming] def loadDelta(wh: Warehouse, batch: DataFrame, name: String,
                                    businessKeys: Seq[String], attrs: Seq[String],
                                    loadDateCol: String): Unit = {
    Vault.loadNewKeys(wh, s"hub_$name",
      Vault.hub(batch, name, businessKeys, col(loadDateCol), s"stream_$name"))
    Vault.loadSatellite(wh, batch, name, businessKeys, attrs, col(loadDateCol))
  }
}
