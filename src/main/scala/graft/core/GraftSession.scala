package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, the tools and the tests all
  * build through it, so every entry point runs with the same settings.
  *   - `local[cores]` master and an explicit shuffle-partition count: the
  *     caller's core budget (Bench and Verify take one partition per core).
  *   - UTC session timezone: deterministic timestamp semantics vs the
  *     DuckDB oracle and across machines.
  *   - `parquet.nanosAsLong`: the fixture's event timestamps have arrived
  *     as TIMESTAMP(NANOS) in some generations; `Tables.normalizeEventTs`
  *     reads them as longs (harmless for micros).
  *   - UI off: no entry point serves it, and it costs startup time and a port.
  * Everything else (AQE, parquet codec) stays at the Spark default.
  */
object GraftSession {

  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
