package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SaltedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain inner join on skewed data") {
    // 90% of probe rows share one hot key
    val probe = ((1 to 900).map(_ => (1, "hot")) ++ (1 to 100).map(i => (i % 7 + 2, "cold")))
      .toDF("k", "tag")
    val build = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
    val plain = probe.join(build, Seq("k")).orderBy("k", "tag", "v")
    val salted = Relational.saltedJoin(probe, build, Seq("k"), salts = 8)
      .orderBy("k", "tag", "v")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("partitioned warehouse write prunes partitions on read") {
    import java.nio.file.Files
    val wh = new graft.core.Warehouse(spark, Files.createTempDirectory("graft_part_").toString)
    val df = Seq(("2024-01-01", "a", 1), ("2024-01-01", "b", 2), ("2024-01-02", "a", 3))
      .toDF("etl_date", "source_name", "v")
    wh.overwrite("s", "t", df, partitionBy = Seq("etl_date", "source_name"))
    val pruned = wh.read("s", "t").filter(col("etl_date") === "2024-01-01")
    assert(pruned.count() === 2)
    // partition pruning visible in the physical plan: the etl_date predicate
    // must land in PartitionFilters (not a post-scan Filter)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("etl_date"),
      s"expected partition pruning, got:\n$plan")
  }
}
