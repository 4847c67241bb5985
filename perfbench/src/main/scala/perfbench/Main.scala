package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Wall seconds and process CPU seconds of a timed interval. */
final case class Cost(secs: Double, cpu: Double) {
  def +(o: Cost): Cost = Cost(secs + o.secs, cpu + o.cpu)
}

object Cost {
  val Zero = Cost(0, 0)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Run `body`, returning its result and what it cost. CPU time is the
    * whole JVM's (driver, executor, GC and JIT threads). */
  def of[T](body: => T): (T, Cost) = {
    val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    val r = body
    (r, Cost((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }
}

/** One timed operation: a query run or one pipeline day. */
final case class OpSample(pass: Int, name: String, cost: Cost, ok: Boolean) {
  def secs: Double = cost.secs
}

/** One timed pass over a workload's operation list. */
final case class PassSample(cost: Cost) {
  def secs: Double = cost.secs
}

/** A printed metric: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** Command-line options, as run.py passes them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      benchDir: String, workDir: String, dumpDir: Option[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("bench-dir"), need("work-dir"), m.get("dump"))
  }
}

/** State shared by every workload of one run: the session, the tracer, the
  * samples and the correctness verdicts. */
final class Run(val args: Args) {
  val setupStart: Long = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${args.workDir}/spark-local")
    .config("spark.sql.warehouse.dir", s"${args.workDir}/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionSecs: Double = Run.secsSince(setupStart)

  val tracer = new Tracer(spark.sparkContext)
  val listener = new JobListener(tracer)
  val ops = mutable.ArrayBuffer.empty[OpSample]
  val passes = mutable.ArrayBuffer.empty[PassSample]
  val problems = mutable.ArrayBuffer.empty[String]
  /** Per-layer totals over the traced passes. */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Workload-specific end-to-end figures, one map per timed pass. */
  val passStats = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** Job groups of the operations that ran traced. */
  val tracedOps = mutable.LinkedHashSet.empty[String]
  var genSecs = 0.0
  var warmSecs = 0.0

  def problem(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  /** Run `body` with tracing on: listener attached, spans recorded. The bus
    * drains before the listener detaches so no event of the pass is lost. */
  def traced[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.addSparkListener(listener)
      tracer.on = true
      try body
      finally {
        tracer.on = false
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

  def beginOp(id: String): Unit = if (tracer.on) { tracedOps += id; tracer.beginOp(id) }

  /** Jobs and spans of the harness itself (checks, untimed loads) are
    * kept out of every operation's totals. */
  def harnessWork(): Unit = tracer.beginOp("harness")

  /** Harness work with span recording off, so it may also run jobs from
    * other threads. */
  def harness[T](body: => T): T = {
    harnessWork()
    val on = tracer.on
    tracer.on = false
    try body finally tracer.on = on
  }

  /** The harness's own cleanup between operations, off the clock: drop
    * cached plans and checkpointed RDDs so no operation inherits another's
    * storage (as graft.Bench does). */
  def releaseAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Whole passes until `seconds` have been measured, all traced in a
    * traced run and none in an untraced one. */
  def timedPasses(pass: Int => Cost): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || Run.secsSince(t0) < args.seconds) {
      passes += PassSample(traced(args.trace)(pass(i)))
      i += 1
    }
  }

  def setupSecs: Double = sessionSecs + genSecs + warmSecs

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Run {
  /** The pass number of a workload's untimed warm-up pass. */
  val Warm = -1

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Independent Spark actions, submitted from a small thread pool: the
    * harness's checks are tiny jobs whose cost is driver-side planning. */
  def parallel[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try thunks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Total bytes and file count under `dir`. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workloads: Map[String, Run => Unit] = Map(
      "relational_mix" -> (r => new QueryWorkload(r, QueryWorkload.RelationalMix).run()),
      "near_dup" -> (r => new QueryWorkload(r, QueryWorkload.NearDup).run()),
      "vault_daily" -> (r => new VaultDaily(r).run()))
    val body = workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload ${args.workload}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    new File(args.workDir).mkdirs()
    val run = new Run(args)
    try body(run)
    finally run.spark.stop()
    if (args.dumpDir.isEmpty) Report.print(run)
  }
}
