package graft.workflow

import org.scalatest.funsuite.AnyFunSuite

import Workflow._

/** Trigger-rule truth table, branching, retries, resume-skip, and the
  * end-rollup raise — the reference's Airflow semantics (SURVEY §7.4.1). */
class WorkflowSpec extends AnyFunSuite {

  private def spec(id: String, deps: Seq[String] = Nil,
                   fail: Boolean = false, retries: Int = 0,
                   rule: TriggerRule = AllSuccess,
                   log: StringBuilder = new StringBuilder): TaskSpec =
    TaskSpec(id, deps,
      run = () => { log.append(id + ";"); if (fail) throw new RuntimeException(s"$id boom") },
      retries = retries, triggerRule = rule)

  test("linear success chain runs in order") {
    val log = new StringBuilder
    val r = Workflow.run(Seq(
      spec("a", log = log), spec("b", Seq("a"), log = log), spec("c", Seq("b"), log = log)))
    assert(log.toString === "a;b;c;")
    assert(r.allSuccess)
  }

  test("failure marks dependents upstream_failed; all_done end task still runs") {
    val log = new StringBuilder
    val r = Workflow.run(Seq(
      spec("a", fail = true, log = log),
      spec("b", Seq("a"), log = log),
      spec("end", Seq("b"), rule = AllDone, log = log)))
    assert(r.status("a") === "failed")
    assert(r.status("b") === "upstream_failed")
    assert(r.status("end") === "success") // ran despite upstream failure
    assert(log.toString === "a;end;")
    val ex = intercept[IllegalStateException](r.assertAllSuccess())
    assert(ex.getMessage.contains("a=failed"))
  }

  test("retries: flaky task succeeds on second attempt") {
    var calls = 0
    val r = Workflow.run(Seq(TaskSpec("flaky",
      run = () => { calls += 1; if (calls < 2) throw new RuntimeException("flake") },
      retries = 3)))
    assert(r.status("flaky") === "success")
    assert(r.runs.head.attempts === 2)
  }

  test("branch skips unchosen dependents; none_skipped propagates, all_done ignores") {
    val log = new StringBuilder
    val r = Workflow.run(Seq(
      TaskSpec("check", branch = Some(() => Seq("work"))),
      spec("work", Seq("check"), log = log),
      spec("bypass", Seq("check"), log = log),
      spec("after_bypass", Seq("bypass"), log = log), // all_success: skip cascades
      spec("guard", Seq("bypass"), rule = NoneSkipped, log = log),
      spec("end", Seq("work", "bypass"), rule = AllDone, log = log)))
    assert(r.status("work") === "success")
    assert(r.status("bypass") === "skipped")
    assert(r.status("after_bypass") === "skipped")
    assert(r.status("guard") === "skipped")
    assert(r.status("end") === "success")
    assert(r.allSuccess) // skipped counts as ok (reference: success/skipped)
  }

  test("resume-skip: previously-succeeded tasks don't re-run") {
    val log = new StringBuilder
    val r = Workflow.run(Seq(
      spec("a", log = log), spec("b", Seq("a"), log = log)),
      resumeDone = Set("a"))
    assert(log.toString === "b;")
    assert(r.status("a") === "success")
  }

  test("python all([])==True parity: empty graph rolls up success") {
    Workflow.run(Seq.empty).assertAllSuccess()
  }

  test("cycles are rejected") {
    intercept[IllegalArgumentException] {
      Workflow.run(Seq(spec("a", Seq("b")), spec("b", Seq("a"))))
    }
  }

  test("resume never skips a branch task: the branch re-decides on re-run") {
    val log = new StringBuilder
    val r = Workflow.run(Seq(
      TaskSpec("check", branch = Some(() => Seq.empty)), // chooses NO dependent
      spec("work", Seq("check"), log = log)),
      resumeDone = Set("check")) // a prior run recorded the branch as done
    assert(r.status("work") === "skipped") // branch ran and skipped it
    assert(log.isEmpty)
  }

  test("execution timeout: hung task fails, dependents upstream_failed, rollup raises") {
    val r = Workflow.run(Seq(
      TaskSpec("hung", run = () => Thread.sleep(60000), timeoutMs = Some(100L)),
      TaskSpec("after", deps = Seq("hung")),
      TaskSpec("end", deps = Seq("after"), triggerRule = AllDone)))
    assert(r.status("hung") === "failed")
    assert(r.runs.find(_.taskId == "hung").get.error.get.contains("execution timeout"))
    assert(r.status("after") === "upstream_failed")
    assert(r.status("end") === "success") // all_done still runs
    intercept[IllegalStateException](r.assertAllSuccess())
  }

  test("a timed-out attempt retries like any failure") {
    var calls = 0
    val r = Workflow.run(Seq(TaskSpec("flaky_slow",
      run = () => { calls += 1; if (calls == 1) Thread.sleep(60000) },
      retries = 1, timeoutMs = Some(100L))))
    assert(calls === 2)
    assert(r.status("flaky_slow") === "success")
    assert(r.runs.head.attempts === 2)
  }

  test("retry delay waits between attempts") {
    var calls = 0
    val t0 = System.nanoTime()
    val r = Workflow.run(Seq(TaskSpec("flaky",
      run = () => { calls += 1; if (calls <= 2) sys.error("boom") },
      retries = 2, retryDelayMs = 120L)))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(r.status("flaky") === "success")
    assert(elapsedMs >= 240L, s"two retry delays of 120ms each, got ${elapsedMs}ms")
  }

  test("time sensor blocks until the (virtual) clock reaches its target") {
    val clock = new java.util.concurrent.atomic.AtomicLong(0L)
    var observedAtRun = -1L
    val r = Workflow.run(Seq(
      Workflow.timeSensor("wait", deps = Nil, targetMs = 500L,
        clock = () => clock.addAndGet(100L), pollMs = 1L),
      TaskSpec("work", deps = Seq("wait"),
        run = () => observedAtRun = clock.get())))
    assert(r.allSuccess)
    assert(observedAtRun >= 500L, s"work ran at virtual time $observedAtRun, before the sensor target")
  }

  test("dagrun timeout: tasks past the deadline fail with dagrun_timeout") {
    val r = Workflow.run(Seq(
      TaskSpec("slow", run = () => Thread.sleep(150)),
      TaskSpec("late", deps = Seq("slow")),
      TaskSpec("end", deps = Seq("late"), triggerRule = AllDone)),
      runTimeoutMs = Some(50L))
    assert(r.status("slow") === "success") // already running when deadline hit
    assert(r.status("late") === "failed")
    assert(r.runs.find(_.taskId == "late").get.error === Some("dagrun_timeout"))
    intercept[IllegalStateException](r.assertAllSuccess())
  }

  // ---- parallelism > 1 -------------------------------------------------

  test("parallel waves: two independent tasks run at the same time") {
    val met = new java.util.concurrent.CountDownLatch(2)
    def meet(id: String) = TaskSpec(id, run = () => {
      met.countDown()
      if (!met.await(10, java.util.concurrent.TimeUnit.SECONDS))
        sys.error(s"$id ran alone")
    })
    val r = Workflow.run(Seq(meet("a"), meet("b")), parallelism = 4)
    r.assertAllSuccess()
  }

  /** Truth-table, retry, timeout, resume and dagrun-timeout graphs, each
    * rebuilt for every run (some keep state in closures):
    * (tasks, resumeDone, runTimeoutMs). */
  private def graphs: Seq[(String, () => (Seq[TaskSpec], Set[String], Option[Long]))] = Seq(
    "truth table" -> (() => (Seq(
      spec("ok"), spec("bad", fail = true),
      TaskSpec("check", branch = Some(() => Seq("chosen"))),
      spec("chosen", Seq("check")), spec("unchosen", Seq("check")),
      spec("s_ok", Seq("ok")), spec("s_bad", Seq("bad")), spec("s_skip", Seq("unchosen")),
      spec("n_bad", Seq("bad"), rule = NoneSkipped), spec("n_skip", Seq("unchosen"), rule = NoneSkipped),
      spec("d_all", Seq("bad", "unchosen", "s_bad"), rule = AllDone),
      spec("end", Seq("s_ok", "s_bad", "s_skip", "n_bad", "n_skip", "d_all"), rule = AllDone)),
      Set.empty[String], None)),
    "retries" -> (() => {
      val calls = new java.util.concurrent.atomic.AtomicInteger
      (Seq(
        TaskSpec("flaky", run = () => if (calls.incrementAndGet() < 3) sys.error("flake"), retries = 3),
        spec("never", fail = true, retries = 2),
        spec("after", Seq("flaky", "never"), rule = AllDone)), Set.empty[String], None)
    }),
    "timeout" -> (() => {
      val calls = new java.util.concurrent.atomic.AtomicInteger
      (Seq(
        TaskSpec("hung", run = () => Thread.sleep(60000), timeoutMs = Some(100L)),
        TaskSpec("slow_once", run = () => if (calls.incrementAndGet() == 1) Thread.sleep(60000),
          retries = 1, timeoutMs = Some(100L)),
        TaskSpec("after", deps = Seq("hung")),
        TaskSpec("end", deps = Seq("after", "slow_once"), triggerRule = AllDone)),
        Set.empty[String], None)
    }),
    "resume" -> (() => (Seq(
      spec("a"), spec("b"), spec("c", Seq("a", "b")),
      TaskSpec("check", branch = Some(() => Seq.empty)), spec("work", Seq("check"))),
      Set("a", "check"), None)),
    "dagrun timeout" -> (() => (Seq(
      TaskSpec("quick"), TaskSpec("slow", run = () => Thread.sleep(150)),
      TaskSpec("late", deps = Seq("slow", "quick")),
      TaskSpec("end", deps = Seq("late"), triggerRule = AllDone)),
      Set.empty[String], Some(50L))))

  graphs.foreach { case (name, build) =>
    test(s"parallel waves: the $name graph gives the sequential RunResult") {
      def runAt(p: Int) = {
        val (tasks, done, timeout) = build()
        Workflow.run(tasks, resumeDone = done, runTimeoutMs = timeout, parallelism = p)
      }
      assert(runAt(4) === runAt(1))
    }
  }

  test("parallel waves: a failing sibling does not stop the rest of its wave") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def task(id: String, fail: Boolean = false) = TaskSpec(id, run = () => {
      Thread.sleep(50)
      ran.add(id)
      if (fail) sys.error(s"$id boom")
    })
    val r = Workflow.run(Seq(task("a", fail = true), task("b"), task("c"),
      TaskSpec("end", deps = Seq("a", "b", "c"), triggerRule = AllDone)), parallelism = 4)
    assert(r.status("a") === "failed")
    assert(Seq("b", "c", "end").map(r.status) === Seq("success", "success", "success"))
    assert(ran.toArray.toSet === Set("a", "b", "c"))
  }

  test("fanOut joins every sibling before it rethrows the first failure") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Workflow.fanOut(4)(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(200); finished.set(true) })))
    assert(e.getMessage === "first")
    assert(finished.get, "the helper threw while a sibling was still running")
  }

  test("fanOut returns results in input order") {
    assert(Workflow.fanOut(3)((1 to 5).map(i => () => { Thread.sleep(10L * (5 - i)); i })) === (1 to 5))
  }
}
