package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a layer boundary crossed by benchmark code, or a
  * Spark job seen by [[JobListener]]. Times are nanoseconds on one clock. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are opened and closed by benchmark code
  * around each public call into the engine; the innermost open span is
  * published as a Spark local property so jobs started inside it name it as
  * their parent. While `on` is false every span is a pass-through: the
  * whole untraced run, and the harness's own work in a traced one. */
final class Tracer(sc: SparkContext) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[(Int, Long)] = Nil
  private var op = ""
  // job events carry wall-clock milliseconds; this maps them onto nanoTime
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nanosOfWallMs(ms: Long): Long = ms * 1000000L + wallToNano

  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  /** Tag every job of the operation through its job group. */
  def beginOp(opId: String): Unit = {
    op = opId
    sc.setJobGroup(opId, opId, interruptOnCancel = false)
  }

  private def newId(): Int = spans.synchronized { val i = nextId; nextId += 1; i }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current
      stack = (id, System.nanoTime()) :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      try body
      finally {
        val t0 = stack.head._2
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, current.toString)
        spans.synchronized(spans += Span(id, name, t0, System.nanoTime(), parent, op))
      }
    }

  def add(s: Span): Unit = { val id = newId(); spans.synchronized(spans += s.copy(id = id)) }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. Sibling spans of one layer may overlap (a
    * broadcast job runs beside the job that waits for it), so a layer's
    * share under one parent is the union of its spans' self intervals. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    def union(iv: Seq[(Long, Long)]): Long = {
      var total = 0L
      var reach = Long.MinValue
      iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
      total
    }
    def self(s: Span): Long =
      s.dur - union(kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
    spans.groupBy(s => (s.parent, s.layer)).toSeq.map { case ((_, layer), sibs) =>
      layer -> (if (sibs.size == 1) self(sibs.head)
        else if (sibs.forall(s => kids.getOrElse(s.id, Nil).isEmpty)) union(sibs.map(s => (s.start, s.end)))
        else sibs.map(self).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Task-level totals of a set of Spark stages. */
final class StageTotals {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var deserializeMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** The Spark layer, seen from outside: a listener that turns jobs into
  * spans (parented by the benchmark span that started them, tagged with
  * the job group the operation set) and sums task metrics per job group. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Long, Int, String)]
  private val stageGroup = mutable.Map.empty[Int, String]
  val totals = mutable.Map.empty[String, StageTotals]
  val stagesByGroup = mutable.Map.empty[String, Int]
  val jobsByGroup = mutable.Map.empty[String, Int]
  /** Jobs per parent span id. */
  val jobsBySpan = mutable.Map.empty[Int, Int]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    val g = group(e.properties)
    jobStart(e.jobId) = (e.time, parent, g)
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
    jobsBySpan(parent) = jobsBySpan.getOrElse(parent, 0) + 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent, g) =>
      tracer.add(Span(0, s"spark.job${e.jobId}", tracer.nanosOfWallMs(t0),
        tracer.nanosOfWallMs(e.time), parent, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    stagesByGroup(g) = stagesByGroup.getOrElse(g, 0) + 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new StageTotals)
    t.tasks += 1
    if (e.reason != org.apache.spark.Success) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.deserializeMs += m.executorDeserializeTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }
}
