package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)` and resolves
  * its inputs through here — one place to control scan options. Parquet
  * scans get predicate pushdown + column pruning from Catalyst for free;
  * nothing is cached here (queries are one-shot in Verify/Bench). A
  * fixture Spark wrote opens with its footer schema and starts no Spark
  * job ([[ParquetFooter]]); any other runs Spark's inference.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = ParquetFooter.read(spark, Seq(s"$sfDir/$name.parquet"))
    if (name == "events")
      df.withColumn("ts", normalizeEventTs(df.schema("ts").dataType))
    else df
  }

  /** The physical encoding of `events.ts` has drifted across fixture
    * generations: parquet TIMESTAMP(NANOS) (arrives as epoch-nanos
    * LongType under spark.sql.legacy.parquet.nanosAsLong=true), then
    * TIMESTAMP(MICROS) isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ).
    * Normalize every known encoding to session-tz TimestampType — the
    * type the whole query surface is written against — and fail loudly,
    * naming the column and type, on anything unrecognized. One opaque
    * error here otherwise fans out into dozens of unresolved-plan
    * failures downstream.
    */
  def normalizeEventTs(dt: DataType): Column = dt match {
    // integer-divide (not `/`, which is double and loses precision at
    // 1e18) epoch-nanos down to micros
    case LongType         => timestamp_micros(expr("ts div 1000"))
    // wall-clock micros; session timezone is pinned to UTC everywhere,
    // so this cast is a pure type change matching the DuckDB oracle
    case TimestampNTZType => col("ts").cast(TimestampType)
    case TimestampType    => col("ts")
    case other => throw new IllegalArgumentException(
      s"fixture schema drift: events.ts has unsupported physical type $other " +
      "(expected INT64 nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP); " +
      "update graft.core.Tables.normalizeEventTs for the new encoding")
  }
}
