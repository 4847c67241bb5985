package graft.core

import graft.SparkSpec

class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries the factory's pinned settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }
}
