package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local JVM SparkSession from the
  * engine's factory (graft.core.GraftSession). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder(4, 8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def sf: String = SharedSpark.sf
}
