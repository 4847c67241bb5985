package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A read-path workload: a fixed list of registry queries over generated
  * inputs. Each operation is one query-function call plus a noop-sink write
  * of its result (every output column materialized, as graft.Bench does).
  * The seed sets the order of the list in each pass. */
final class QueryWorkload(run: Run, spec: QueryWorkload.Spec) {
  import Run.Warm

  private val spark = run.spark
  private val args = run.args
  private val inputs = s"${args.workDir}/inputs"
  private val fns: Seq[(String, (SparkSession, String) => DataFrame)] =
    spec.queries.map(q => q -> SparkEntry.queries.getOrElse(q,
      throw new IllegalStateException(s"$q is not in SparkEntry.queries")))
  /** Queries whose warm-pass output did not match its pin. */
  private val wrong = scala.collection.mutable.Set.empty[String]

  def run(): Unit = {
    val t0 = System.nanoTime()
    Gen.write(spark, inputs, spec.tables)
    run.genSecs = Run.secsSince(t0)
    args.dumpDir match {
      case Some(dir) => dump(dir)
      case None =>
        warmAndCheck()
        run.timedPasses(timedPass)
    }
  }

  /** Untimed: every query once, its result digested and compared with the
    * pin, then one more pass as the timed ones run it. This warms the JIT,
    * codegen caches and parquet footers, so the timed passes measure warmed
    * code. */
  private def warmAndCheck(): Unit = {
    val pinned = Pins.load(args.benchDir)
    val t0 = System.nanoTime()
    fns.foreach { case (name, fn) =>
      val got =
        try Some(Digest.of(fn(spark, inputs)))
        catch { case e: Throwable => run.problem(s"$name raised $e"); None }
      got.foreach { d =>
        pinned.get(name) match {
          case Some(p) if p == d => ()
          case Some(p) => run.problem(s"$name digest $d, pinned $p")
          case None => run.problem(s"$name has no pin (digest $d)")
        }
      }
      if (got.isEmpty || !pinned.get(name).contains(got.get)) wrong += name
      run.releaseAll()
    }
    run.harness(timedPass(Warm))
    run.warmSecs = Run.secsSince(t0)
  }

  /** One pass in the seed's order; returns the summed operation cost. The
    * warm-up pass records no operation. */
  private def timedPass(pass: Int): Cost = {
    val order = new scala.util.Random(args.seed * 7919L + pass).shuffle(fns)
    order.map { case (name, fn) =>
      if (pass != Warm) run.beginOp(s"p$pass/$name")
      val (ok, cost) = Cost.of {
        try run.tracer.span("bench.op") {
          val df = run.tracer.span("queries.build")(fn(spark, inputs))
          run.tracer.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
          !wrong(name)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e"); false
        }
      }
      if (pass != Warm) run.ops += OpSample(pass, name, cost, ok)
      run.releaseAll()
      cost
    }.foldLeft(Cost.Zero)(_ + _)
  }

  /** Pin production: write inputs, each query's output and its oracle SQL
    * where tools/check_oracle.py reads them, plus the digests of the
    * written outputs as read back. */
  private def dump(dir: String): Unit = {
    val oracles = SparkEntry.oracleSql
    val lines = fns.map { case (name, fn) =>
      fn(spark, inputs).coalesce(1).write.mode("overwrite").parquet(s"$dir/out/$name")
      s"$name\t${Digest.of(spark.read.parquet(s"$dir/out/$name"))}"
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r") + "\""
    val json = fns.flatMap { case (n, _) => oracles.get(n).map(sql => s"${q(n)}: ${q(sql)}") }
      .mkString("{", ",\n", "}")
    Files.write(Paths.get(s"$dir/out/oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$dir/digests.tsv"), lines.asJava, StandardCharsets.UTF_8)
    Gen.write(spark, s"$dir/inputs", spec.tables)
  }
}

object QueryWorkload {
  final case class Spec(queries: Seq[String], tables: Set[String])

  /** Per-query and per-task constants dominate these: windows,
    * MERGE-as-rewrite, anti and semi joins, SCD2, sessionizing, as-of joins. */
  val RelationalMix = Spec(Seq(
    "q1_pricing_summary", "q3_customers_no_orders", "q5_latest_order_per_customer",
    "q8_top10_orders", "q14_scd2_orders", "q15_merge_upsert", "q29_hub_customer",
    "q34_sessionize", "q48_asof_purchase", "q62_bloom_revenue", "q75_supplier_rank",
    "q95_cube", "q102_window_suite"),
    Set("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"))

  /** LSH with the pair census and connected components (q41),
    * edit-distance verify, winnowing and SimHash. The incremental path
    * (q99, the costliest at ~4 s) is left out to fit the run budget. */
  val NearDup = Spec(Seq(
    "q41_dedup_clusters", "q157_edit_near_dup", "q38_winnowing_pairs", "q21_simhash_pairs"),
    Set("documents"))
}

/** Pinned digests, one `name<TAB>digest` line each, in pins.tsv beside the
  * benchmark's build file. */
object Pins {
  def load(benchDir: String): Map[String, String] = {
    val p = Paths.get(benchDir, "pins.tsv")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains('\t'))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
  }
}
