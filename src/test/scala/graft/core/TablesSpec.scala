package graft.core

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Fixture-ingestion guard: `events.ts` has shipped under different
  * physical parquet encodings across driver fixture generations
  * (TIMESTAMP(NANOS) → nanos-as-long, then TIMESTAMP(MICROS) → NTZ).
  * `Tables` must normalize every known encoding to session-tz
  * TimestampType and name the column on anything new — drift here once
  * broke 18 oracle queries with one opaque AnalysisException. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-03-01T12:00:00Z in epoch units
  private val micros = 1709294400000000L
  private val expected = Timestamp.from(java.time.Instant.ofEpochSecond(1709294400L))

  private def loadAsEvents(dir: String): org.apache.spark.sql.DataFrame =
    Tables(spark, dir, "events")

  test("nanos-as-long encoding (legacy fixtures) normalizes to TimestampType") {
    val dir = Files.createTempDirectory("graft_ts_long_").toString
    // under nanosAsLong=true, parquet TIMESTAMP(NANOS) arrives as plain
    // LongType — identical to writing an INT64 column, which Spark can do
    Seq((1L, micros * 1000L, "click")).toDF("event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = loadAsEvents(dir)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select("ts").as[Timestamp].head() === expected)
  }

  test("timestamp[us] NTZ encoding (current fixtures) normalizes to TimestampType") {
    val dir = Files.createTempDirectory("graft_ts_ntz_").toString
    Seq((1L, LocalDateTime.of(2024, 3, 1, 12, 0, 0), "click"))
      .toDF("event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = loadAsEvents(dir)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select("ts").as[Timestamp].head() === expected)
  }

  test("session-tz timestamp encoding passes through unchanged") {
    val dir = Files.createTempDirectory("graft_ts_tz_").toString
    Seq((1L, expected, "click")).toDF("event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = loadAsEvents(dir)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select("ts").as[Timestamp].head() === expected)
  }

  test("unrecognized ts encoding fails loudly, naming the column") {
    val dir = Files.createTempDirectory("graft_ts_bad_").toString
    Seq((1L, "2024-03-01", "click")).toDF("event_id", "ts", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](loadAsEvents(dir))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("schema drift"))
  }

  /** Spark jobs `body` starts: listener events arrive in order, so once a
    * marker job is seen, every job the body started has been seen too. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables_read", "reads under test")
      body
      sc.setJobGroup("tables_marker", "marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("tables_marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("tables_marker"))
      groups.asScala.count(_ == "tables_read")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a fixture Spark wrote reads with Spark's inferred schema and starts no Spark job") {
    val dir = Files.createTempDirectory("graft_tables_footer_").toString
    spark.range(0, 40, 1, 3)
      .select(col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        (col("id") % 2 === 0).as("flag"))
      .write.parquet(s"$dir/documents.parquet")
    val encodings = Seq(
      "long" -> lit(micros * 1000L),
      "ntz" -> to_timestamp_ntz(lit("2024-03-01 12:00:00")),
      "tz" -> lit(expected))
    encodings.foreach { case (enc, ts) =>
      spark.range(2).select(col("id").as("event_id"), ts.as("ts"))
        .write.parquet(s"$dir/$enc/events.parquet")
    }
    def inferred(path: String) = spark.read.parquet(path).schema
    assert(Tables(spark, dir, "documents").schema === inferred(s"$dir/documents.parquet"))
    encodings.foreach { case (enc, _) =>
      val path = s"$dir/$enc/events.parquet"
      assert(ParquetFooter.read(spark, Seq(path)).schema === inferred(path), enc)
      val raw = spark.read.parquet(path)
      assert(Tables(spark, s"$dir/$enc", "events").schema ===
        raw.withColumn("ts", Tables.normalizeEventTs(raw.schema("ts").dataType)).schema, enc)
    }
    assert(jobsOf {
      Tables(spark, dir, "documents")
      encodings.foreach { case (enc, _) => Tables(spark, s"$dir/$enc", "events") }
    } === 0)
  }

  test("a fixture file Spark did not write falls back to Spark's inference") {
    val path = s"$sf/region.parquet"
    assert(ParquetFooter.schema(spark, Seq(path)).isEmpty, "the footer carries no Spark schema")
    assert(Tables(spark, sf, "region").schema === spark.read.parquet(path).schema)
    assert(Tables(spark, sf, "region").count() === spark.read.parquet(path).count())
  }

  test("driver fixture loads with TimestampType ts and sane range") {
    val df = Tables(spark, sf, "events")
    assert(df.schema("ts").dataType === TimestampType)
    val (lo, hi) = df.select(min($"ts"), max($"ts")).as[(Timestamp, Timestamp)].head()
    assert(lo.getTime > 0L && hi.getTime < 4102444800000L) // before year 2100
  }
}
