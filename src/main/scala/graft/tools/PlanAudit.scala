package graft.tools

import graft.SparkEntry
import graft.core.GraftSession

/** Dev tool: dump formatted physical plans for plan-quality review. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4, 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // args: query-name prefixes, like SPARK_GRAFT_ONLY; none = every query
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.startsWith))
    names.foreach { n =>
      println(s"\n================ $n ================")
      try println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}
