package graft.workflow

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

/** Deterministic workflow runner — the engine's control plane replacing the
  * reference's Airflow DAG semantics (SURVEY §2.11): dependencies,
  * trigger rules (`all_success` default, `all_done` end tasks,
  * `none_skipped`), branch operators, retries, resume-skip, and the
  * end-of-run status rollup that *raises* after the all_done tasks ran
  * (reference utlis/etl_manager.py:471-548 — subtle vs fail-fast).
  *
  * By default tasks execute sequentially in deterministic topological order
  * (input order breaks ties). With `parallelism > 1` the runner still
  * decides trigger rules, branches and resume-skips on the calling thread,
  * then runs each wave of ready non-branch tasks together on a pool of that
  * many threads ([[fanOut]]) and records every status before the next wave
  * starts — statuses, attempts, errors and the rollup are the same as the
  * sequential run's. Only graphs whose concurrent tasks write disjoint
  * tables may ask for it: the per-table housekeeping fan-outs do; the
  * pipelines' own graphs, whose tasks append to shared tables, do not.
  */
object Workflow {

  sealed trait TriggerRule
  /** Run iff every dependency succeeded (Airflow default). */
  case object AllSuccess extends TriggerRule
  /** Run once every dependency is terminal, regardless of outcome
    * (reference end/status tasks, dag_etlpipeline__root.py:51,141). */
  case object AllDone extends TriggerRule
  /** Run unless some dependency was skipped
    * (reference dag_etlpipeline__staging.py:94,120,189). */
  case object NoneSkipped extends TriggerRule

  sealed trait Status { def terminal: Boolean = true }
  case object Success extends Status
  case object Failed extends Status
  case object Skipped extends Status
  case object UpstreamFailed extends Status

  /** One task: `run` does the work (a Spark job); `branch`, when set, runs
    * instead and returns the dependent task ids to follow — all other
    * dependents are skipped (BranchPythonOperator semantics, reference
    * dag_etlpipeline__datavault.py:112-118).
    *
    * `retryDelayMs` waits between attempts (reference retry_delay=10–60 s,
    * dag_etlpipeline__root.py:38); `timeoutMs` bounds one attempt
    * (execution_timeout) — a timed-out attempt fails and retries like any
    * other failure. */
  final case class TaskSpec(
      id: String,
      deps: Seq[String] = Nil,
      run: () => Unit = () => (),
      retries: Int = 0,
      triggerRule: TriggerRule = AllSuccess,
      branch: Option[() => Seq[String]] = None,
      retryDelayMs: Long = 0L,
      timeoutMs: Option[Long] = None)

  /** TimeSensor (reference dag_etlpipeline__root.py:81-85): blocks until
    * `clock()` reaches `targetMs`, polling at `pollMs`. The reference
    * staggers source groups by wait_time minutes to spread cluster load;
    * with the default real clock this does exactly that, and tests inject
    * a virtual clock so the semantics stay deterministic. */
  def timeSensor(id: String, deps: Seq[String], targetMs: Long,
                 clock: () => Long = () => System.currentTimeMillis(),
                 pollMs: Long = 50L): TaskSpec =
    TaskSpec(id, deps, run = () => {
      while (clock() < targetMs) Thread.sleep(pollMs)
    }, triggerRule = NoneSkipped)

  /** TriggerDagRunOperator(wait_for_completion=True, allowed_states=
    * ['success']) as a task: runs the child graph inline, records its
    * result, and fails the trigger task unless the child run reaches an
    * allowed overall state (reference dag_etlpipeline__root.py:62-68).
    * The child's result is retrievable from `childResults` after the run. */
  def triggerTask(id: String, deps: Seq[String],
                  child: () => RunResult,
                  childResults: mutable.Map[String, RunResult],
                  retries: Int = 0, retryDelayMs: Long = 0L,
                  triggerRule: TriggerRule = NoneSkipped): TaskSpec =
    TaskSpec(id, deps, run = () => {
      val res = child()
      childResults(id) = res
      if (!res.allSuccess)
        throw new IllegalStateException(
          s"sub-workflow $id not in allowed states: " +
            res.runs.filter(r => r.status != "success" && r.status != "skipped")
              .map(r => s"${r.taskId}=${r.status}").mkString(", "))
    }, retries = retries, retryDelayMs = retryDelayMs, triggerRule = triggerRule)

  final case class TaskRun(taskId: String, status: String, attempts: Int, error: Option[String])

  final case class RunResult(runs: Seq[TaskRun]) {
    def status(id: String): String = runs.find(_.taskId == id).get.status
    def allSuccess: Boolean = runs.forall(r => r.status == "success" || r.status == "skipped")
    /** The reference's check_state rollup: raise unless every task is
      * success/skipped (etl_manager.py:511-548). Called after the run —
      * all_done tasks have already executed. */
    def assertAllSuccess(): Unit = {
      val bad = runs.filter(r => r.status != "success" && r.status != "skipped")
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"run failed: ${bad.map(r => s"${r.taskId}=${r.status}").mkString(", ")}")
    }
  }

  /** Execute the graph. `resumeDone`: task ids with a prior success for this
    * (etl_date, source) — they are marked success without running
    * (check_conditions skip-if-succeeded, reference etl_manager.py:435-468).
    * `runTimeoutMs` is the dagrun_timeout (reference 90–360 min,
    * dag_etlpipeline__root.py:27): once the run exceeds it, no further task
    * starts — each remaining runnable task is marked failed with
    * `dagrun_timeout`, so the end-of-run rollup raises. `parallelism`: how
    * many tasks of one wave may run at once (see the object doc). */
  def run(tasks: Seq[TaskSpec], resumeDone: Set[String] = Set.empty,
          runTimeoutMs: Option[Long] = None, parallelism: Int = 1): RunResult = {
    val deadline = runTimeoutMs.map(System.currentTimeMillis() + _)
    val byId = tasks.map(t => t.id -> t).toMap
    require(byId.size == tasks.size, "duplicate task ids")
    tasks.foreach(t => t.deps.foreach(d =>
      require(byId.contains(d), s"task ${t.id} depends on unknown $d")))

    val status = mutable.LinkedHashMap.empty[String, Status]
    // written by the pooled tasks when parallelism > 1
    val attempts = TrieMap.empty[String, Int]
    val errors = TrieMap.empty[String, String]
    // branch selections: dependents of a branch task not chosen get skipped
    val notChosen = mutable.Set.empty[String]

    def ready(t: TaskSpec): Boolean =
      !status.contains(t.id) && t.deps.forall(status.contains)

    def decide(t: TaskSpec): Status = {
      val depStatuses = t.deps.map(status)
      if (notChosen.contains(t.id)) Skipped
      else t.triggerRule match {
        case AllDone => null // always runs
        case NoneSkipped =>
          if (depStatuses.contains(Skipped)) Skipped else null
        case AllSuccess =>
          if (depStatuses.contains(Failed) || depStatuses.contains(UpstreamFailed)) UpstreamFailed
          else if (depStatuses.contains(Skipped)) Skipped
          else null
      }
    }

    // one attempt, bounded by the task's execution timeout when set. The
    // attempt runs on its own thread only in the timeout case; on timeout
    // the attempt is abandoned (recorded failed — the thread itself cannot
    // be safely killed, same as Airflow's zombie-task reality).
    def attemptOnce(t: TaskSpec, body: () => Unit): Unit = t.timeoutMs match {
      case None => body()
      case Some(ms) =>
        val pool = Executors.newSingleThreadExecutor(workerThreads)
        try pool.submit(new Callable[Unit] { def call(): Unit = body() })
          .get(ms, TimeUnit.MILLISECONDS)
        catch {
          case _: TimeoutException =>
            throw new IllegalStateException(s"task ${t.id} exceeded ${ms}ms execution timeout")
          case e: ExecutionException => throw e.getCause
        } finally pool.shutdown()
    }

    def execute(t: TaskSpec): Status = {
      // branch tasks are never resume-skipped: the branch DECIDES which
      // dependents run, and skipping it would silently run all of them
      // (Airflow re-evaluates branches on re-run for the same reason)
      if (resumeDone.contains(t.id) && t.branch.isEmpty) return Success
      if (deadline.exists(System.currentTimeMillis() > _)) {
        errors(t.id) = "dagrun_timeout"
        return Failed
      }
      var attempt = 0
      while (true) {
        attempt += 1
        attempts(t.id) = attempt
        try {
          t.branch match {
            case Some(b) =>
              // branches run on the caller thread, timeout or not: they are
              // decision lambdas, and an abandoned timed-out thread would
              // mutate notChosen concurrently with this scheduler loop
              val chosen = b().toSet
              val dependents = tasks.filter(_.deps.contains(t.id)).map(_.id)
              notChosen ++= dependents.filterNot(chosen)
            case None => attemptOnce(t, () => t.run())
          }
          return Success
        } catch {
          case e: Exception =>
            if (attempt > t.retries) { errors(t.id) = e.toString; return Failed }
            if (t.retryDelayMs > 0) Thread.sleep(t.retryDelayMs)
        }
      }
      Failed // unreachable
    }

    var progressed = true
    while (progressed) {
      val wave = tasks.filter(ready)
      progressed = wave.nonEmpty
      // no task of a wave depends on another, so deciding each here and
      // running the pooled ones after gives the statuses a sequential sweep
      // gives; with parallelism 1 nothing is pooled
      val pooled = wave.filter { t =>
        val decided = decide(t)
        if (decided != null) { status(t.id) = decided; false }
        else if (parallelism > 1 && t.branch.isEmpty && !resumeDone.contains(t.id)) true
        else { status(t.id) = execute(t); false }
      }
      pooled.zip(fanOut(parallelism)(pooled.map(t => () => execute(t))))
        .foreach { case (t, s) => status(t.id) = s }
    }
    require(status.size == tasks.size, "cycle detected in task graph")

    RunResult(tasks.map { t =>
      val s = status(t.id) match {
        case Success => "success"
        case Failed => "failed"
        case Skipped => "skipped"
        case UpstreamFailed => "upstream_failed"
      }
      TaskRun(t.id, s, attempts.getOrElse(t.id, 0), errors.get(t.id))
    })
  }

  /** Run every thunk, at most `parallelism` at once, and return the results
    * in input order. The first failure (in input order) is rethrown only
    * after every sibling has finished, so a caller's retry never starts
    * while a sibling is still writing. The pool is created per call: its
    * threads are started by the calling thread and so inherit its Spark
    * local properties (job group, description, scheduler pool). With one
    * thunk or `parallelism` 1 the thunks run on the calling thread. */
  def fanOut[T](parallelism: Int)(thunks: Seq[() => T]): Seq[T] = {
    val n = math.min(parallelism, thunks.size)
    val outcomes: Seq[Try[T]] =
      if (n <= 1) thunks.map(f => Try(f()))
      else {
        val pool = Executors.newFixedThreadPool(n, workerThreads)
        try pool.invokeAll(thunks.map(f => new Callable[T] { def call(): T = f() }).asJava)
          .asScala.toSeq.map(r => Try(r.get()).recoverWith {
            case e: ExecutionException => Failure(e.getCause)
          })
        finally pool.shutdown()
      }
    outcomes.map(_.get)
  }

  private val workerThreads: ThreadFactory = new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-workflow-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
