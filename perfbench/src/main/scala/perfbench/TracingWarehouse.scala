package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Warehouse

/** The warehouse layer, observed from outside: a subclass whose public
  * calls open spans named `warehouse.<call>@<schema>` and count commits and
  * the bytes each commit's new data directory holds. Only the outermost
  * call of a nest is a span (`merge` commits through `overwrite`), so a
  * call's time is never counted twice. */
final class TracingWarehouse(spark: SparkSession, root: String, tracer: Tracer,
                             counts: mutable.Map[String, Double])
    extends Warehouse(spark, root) {

  private var depth = 0

  private def traced[T](call: String, schema: String)(body: => T): T =
    if (!tracer.on || depth > 0) body
    else {
      depth += 1
      try tracer.span(s"warehouse.$call@$schema")(body) finally depth -= 1
    }

  private def committed(schema: String, table: String, v: Long): Long = {
    if (tracer.on) {
      val dir = new Path(s"${tableDir(schema, table)}/data/v$v")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      counts("warehouse.commits") += 1
      counts("warehouse.bytes_written_mb") += fs.getContentSummary(dir).getLength / 1e6
    }
    v
  }

  override def exists(schema: String, table: String): Boolean =
    traced("exists", schema)(super.exists(schema, table))

  override def read(schema: String, table: String): DataFrame =
    traced("read", schema)(super.read(schema, table))

  override def overwrite(schema: String, table: String, df: DataFrame,
                         partitionBy: Seq[String]): Long =
    traced("overwrite", schema)(
      committed(schema, table, super.overwrite(schema, table, df, partitionBy)))

  override def append(schema: String, table: String, df: DataFrame,
                      partitionBy: Seq[String]): Long =
    traced("append", schema)(
      committed(schema, table, super.append(schema, table, df, partitionBy)))

  override def merge(schema: String, table: String, source: DataFrame,
                     keys: Seq[String]): Long =
    traced("merge", schema)(super.merge(schema, table, source, keys))
}
