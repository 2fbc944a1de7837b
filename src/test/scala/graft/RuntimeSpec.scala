package graft

import graft.daemon.Daemon
import graft.runtime._
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** Configurable failing worker — the reference's MockStage/MockWorker
  * (`/root/reference/gasket/src/runtime.rs:486-570`): unit n fails iff
  * `failures(n % failures.length)`; optional per-phase delays. */
final class MockWorker(
    failures: Seq[Boolean] = Seq(false),
    units: Int = 5,
    scheduleDelay: Option[FiniteDuration] = None,
    executeDelay: Option[FiniteDuration] = None) extends Worker[Int] {

  val bootstrapCount = new AtomicInteger(0)
  val scheduleCount = new AtomicInteger(0)
  val executeCount = new AtomicInteger(0)
  val teardownCount = new AtomicInteger(0)
  val executedUnits: mutable.Buffer[Int] = mutable.Buffer.empty
  private var next = 0

  override def bootstrap(): Unit = bootstrapCount.incrementAndGet()

  override def schedule(): WorkSchedule[Int] = {
    scheduleCount.incrementAndGet()
    scheduleDelay.foreach(d => Thread.sleep(d.toMillis))
    if (next >= units) WorkSchedule.Done
    else { val u = next; next += 1; WorkSchedule.Unit(u) }
  }

  override def execute(unit: Int): Unit = {
    executeCount.incrementAndGet()
    synchronized { executedUnits += unit }
    executeDelay.foreach(d => Thread.sleep(d.toMillis))
    if (failures(unit % failures.length))
      throw WorkerError.Retry(new RuntimeException(s"unit $unit failed"))
  }

  override def teardown(): Unit = teardownCount.incrementAndGet()
}

/** Ports of the reference's three asserted runtime behaviors
  * (`runtime.rs:590-719`) plus backoff/liveness/daemon coverage. */
class RuntimeSpec extends AnyFunSuite {

  test("happy path: bootstrap, 5 units, teardown, ended (runtime.rs:590-615)") {
    val w = new MockWorker(units = 5)
    val t = StageRuntime.spawn("happy", w)
    assert(t.waitEnded(10.seconds))
    assert(w.bootstrapCount.get() == 1)
    assert(w.executeCount.get() == 5)
    assert(w.teardownCount.get() == 1)
    assert(t.readMetrics()("counter.units_executed") == 5)
    val ev = t.eventLog()
    assert(ev.containsSlice(Seq("scheduled-done", "teardown", "ended")))
    assert(t.failureOption.isEmpty)
  }

  test("honors max retries with the SAME unit (runtime.rs:617-662)") {
    val w = new MockWorker(failures = Seq(true), units = 5)
    val t = StageRuntime.spawn("retries", w,
      Policy(workRetry = RetryPolicy(maxRetries = 3, backoffUnit = 1.milli)))
    assert(t.waitEnded(10.seconds))
    assert(w.executeCount.get() == 4) // 1 try + 3 retries
    assert(w.executedUnits.distinct == Seq(0)) // same unit every attempt
    assert(w.teardownCount.get() == 1)
    assert(t.failureOption.isDefined)
    assert(t.readMetrics()("counter.retries") == 3)
  }

  test("dismissible policy skips the poisoned unit and continues (retries.rs:16-26)") {
    val w = new MockWorker(failures = Seq(true, false), units = 4)
    val t = StageRuntime.spawn("dismissible", w,
      Policy(workRetry = RetryPolicy(maxRetries = 1, dismissible = true)))
    assert(t.waitEnded(10.seconds))
    // units 0 and 2 fail (2 attempts each, then skipped); 1 and 3 succeed
    assert(t.readMetrics()("counter.units_skipped") == 2)
    assert(t.readMetrics()("counter.units_executed") == 2)
    assert(t.failureOption.isEmpty)
  }

  test("honors cancel in time (runtime.rs:691-719)") {
    val w = new MockWorker(units = 1000,
      scheduleDelay = Some(10.seconds), executeDelay = Some(10.seconds))
    val t = StageRuntime.spawn("cancel", w)
    // wait (bounded poll, no fixed sleep) until the worker is inside a
    // 10 s phase delay, so dismissal genuinely has something to interrupt
    val ready = System.nanoTime() + 5.seconds.toNanos
    while (w.scheduleCount.get() == 0 && System.nanoTime() < ready) Thread.sleep(5)
    val t0 = System.nanoTime()
    t.dismiss()
    assert(t.waitEnded(5.seconds))
    val shutdownMs = (System.nanoTime() - t0) / 1e6
    // the semantic claim is "dismissal interrupts the sleep instead of
    // waiting it out": generous bound (parallel-suite CPU contention
    // pushed a tight 500 ms assert over the line) yet 3× under the 10 s
    // sleep it must NOT be waiting on
    assert(shutdownMs < 3000.0, s"shutdown took ${shutdownMs}ms")
    assert(w.teardownCount.get() == 1)
  }

  test("exponential backoff formula (retries.rs:74-78)") {
    val p = RetryPolicy(maxRetries = 10, backoffUnit = 1.milli,
      backoffFactor = 2, maxBackoff = 100.millis)
    assert(p.backoffDelay(0) == 1.milli)
    assert(p.backoffDelay(3) == 8.millis)
    assert(p.backoffDelay(20) == 100.millis) // capped
  }

  test("blocked detection via stale heartbeat (runtime.rs:393-403)") {
    val w = new MockWorker(units = 1000, executeDelay = Some(5.seconds))
    val t = StageRuntime.spawn("stall", w,
      Policy(tickTimeout = 200.millis))
    // poll-until-Blocked with a generous deadline instead of one fixed
    // sleep: under suite-wide CPU contention the stage thread may take
    // arbitrarily long to reach its 5 s stall, but once it does the
    // heartbeat MUST go stale within tickTimeout
    val deadline = System.nanoTime() + 10.seconds.toNanos
    var st = t.checkState()
    while (st != StageState.Blocked && System.nanoTime() < deadline) {
      Thread.sleep(20); st = t.checkState()
    }
    assert(st == StageState.Blocked)
    t.dismiss(); t.join()
  }

  test("daemon: any stage ending stops the pipeline; two-phase teardown (daemon.rs:36-77)") {
    val fast = new MockWorker(units = 2)
    // 30 s delay with a 10 s bound: an unambiguous margin — a tighter
    // 5 s/4 s pairing flaked under parallel-suite CPU contention
    val slow = new MockWorker(units = 1000, scheduleDelay = Some(30.seconds))
    val tf = StageRuntime.spawn("fast", fast)
    val ts = StageRuntime.spawn("slow", slow)
    val d = new Daemon(Seq(tf, ts), pollEvery = 20.millis)
    // wait until 'slow' is inside its delayed schedule(): if 'fast' ends
    // before 'slow' has bootstrapped, the dismissal takes the
    // no-resources-no-teardown path (runtime.rs:247-253) and the stage
    // rightly never tears down — not the drain this test asserts
    val ready = System.nanoTime() + 10.seconds.toNanos
    while (slow.scheduleCount.get() == 0 && System.nanoTime() < ready)
      Thread.sleep(5)
    assert(slow.scheduleCount.get() > 0)
    val t0 = System.nanoTime()
    d.block()
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 10000, s"daemon.block took ${ms}ms — should stop when 'fast' ends")
    assert(tf.currentPhase == StagePhase.Ended)
    assert(ts.currentPhase == StagePhase.Ended)
    assert(slow.teardownCount.get() == 1)
  }

  test("daemon registers the JVM shutdown hook by default and drains stages through it (daemon.rs:17-25)") {
    val slow = new MockWorker(units = 1000, scheduleDelay = Some(5.seconds))
    val t = StageRuntime.spawn("sigterm", slow)
    val d = new Daemon(Seq(t), pollEvery = 20.millis)
    assert(d.shutdownHookInstalled, "TERM/INT hook must be on by default (reference always registers)")
    assert(!new Daemon(Seq(t), registerShutdownHook = false).shutdownHookInstalled)
    // wait until the stage has actually bootstrapped: terminating a stage
    // whose thread never ran is the no-resources-no-teardown path
    // (runtime.rs:247-253), not the drain path this test asserts
    val ready = System.nanoTime() + 10.seconds.toNanos
    while (slow.bootstrapCount.get() == 0 && System.nanoTime() < ready)
      Thread.sleep(5)
    assert(slow.bootstrapCount.get() > 0)
    // exercise the hook's exact code path (terminate + teardown): the
    // stage must drain and the daemon must report terminated
    d.terminate(); d.teardown()
    assert(d.isTerminated)
    assert(t.waitEnded(10.seconds))
    assert(slow.teardownCount.get() == 1)
  }

  test("plain (non-WorkerError) exception in execute is Panic: no retry (runtime.rs:267-275)") {
    val execs = new AtomicInteger(0)
    val teardowns = new AtomicInteger(0)
    val t = StageRuntime.spawn("panic", new Worker[Int] {
      override def schedule(): WorkSchedule[Int] = WorkSchedule.Unit(1)
      override def execute(unit: Int): Unit = {
        execs.incrementAndGet(); throw new RuntimeException("boom")
      }
      override def teardown(): Unit = teardowns.incrementAndGet()
    }, Policy(workRetry = RetryPolicy(maxRetries = 3, backoffUnit = 1.milli)))
    assert(t.waitEnded(10.seconds))
    assert(execs.get() == 1, "plain exceptions must not be retried")
    assert(teardowns.get() == 1, "a bootstrapped stage still tears down on panic")
    assert(t.failureOption.isDefined)
  }

  test("failed bootstrap ends the stage WITHOUT teardown (runtime.rs:247-253)") {
    val teardowns = new AtomicInteger(0)
    val t = StageRuntime.spawn("boot-fail", new Worker[Int] {
      override def bootstrap(): Unit = throw new RuntimeException("no resources")
      override def schedule(): WorkSchedule[Int] = WorkSchedule.Done
      override def execute(unit: Int): Unit = ()
      override def teardown(): Unit = teardowns.incrementAndGet()
    })
    assert(t.waitEnded(10.seconds))
    assert(teardowns.get() == 0, "nothing was acquired — nothing to tear down")
    assert(t.failureOption.isDefined)
    // only WorkerError.Retry retries bootstrap; a plain exception is one-shot
  }

  test("bootstrap WorkerError.Retry retries under bootstrapRetry policy") {
    val boots = new AtomicInteger(0)
    val t = StageRuntime.spawn("boot-retry", new Worker[Int] {
      override def bootstrap(): Unit = {
        if (boots.incrementAndGet() < 3)
          throw WorkerError.Retry(new RuntimeException("not yet"))
      }
      override def schedule(): WorkSchedule[Int] = WorkSchedule.Done
      override def execute(unit: Int): Unit = ()
    }, Policy(bootstrapRetry = RetryPolicy(maxRetries = 5, backoffUnit = 1.milli)))
    assert(t.waitEnded(10.seconds))
    assert(boots.get() == 3)
    assert(t.failureOption.isEmpty)
  }

  test("registry readings are namespaced by kind — no cross-kind shadowing (metrics.rs:96-110)") {
    val r = new Registry
    r.counter("load").inc(7)
    r.gauge("load").set(42)
    val m = r.readings()
    assert(m("counter.load") == 7L)
    assert(m("gauge.load") == 42L)
  }

  test("worker error escalation wrappers (framework.rs:20-79)") {
    import WorkerError._
    val boom = () => throw new RuntimeException("x")
    assertThrows[Retry](boom.orRetry())
    assertThrows[Restart](boom.orRestart())
    assertThrows[Panic](boom.orPanic())
  }

  test("prometheus text rendering (gasket-prometheus/src/lib.rs:51-77)") {
    val out = PrometheusText.render("s1", Map("units" -> 5L, "errors" -> 0L))
    assert(out ==
      "stage_metric{stage_name=\"s1\",metric_name=\"errors\"} 0\n" +
      "stage_metric{stage_name=\"s1\",metric_name=\"units\"} 5\n")
  }

  test("prometheus endpoint serves live stage metrics over HTTP (gasket-prometheus/src/lib.rs:51-77)") {
    // a real spawned stage, scraped over the wire: the counter the FSM
    // ticks must come back through GET /metrics
    val t = StageRuntime.spawn("scraped", new Worker[Int] {
      override def schedule(): WorkSchedule[Int] = WorkSchedule.Done
      override def execute(unit: Int): Unit = ()
    })
    assert(t.waitEnded(10.seconds))
    val http = PrometheusHttp.serve(Seq(t))
    try {
      val url = java.net.URI.create(
        s"http://127.0.0.1:${http.port}/metrics").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = new String(conn.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val tickLine = body.linesIterator.find(
        _.startsWith("stage_metric{stage_name=\"scraped\",metric_name=\"counter.ticks\"}"))
      assert(tickLine.isDefined, s"no ticks line in:\n$body")
      assert(tickLine.get.split(' ').last.toLong > 0L,
        "stage ran but the scraped tick counter is zero")
    } finally http.stop()
  }

  test("the verify batch runs supervised and is scraped LIVE over Prometheus") {
    // the reference's observability story applied to the engine's own
    // workload (round-10 verdict item 8): graft.Verify's batch is one
    // supervised stage whose work units are gate queries; per-query row
    // gauges (Dataset.observe), ok counters, and FSM ticks all come back
    // through GET /metrics WHILE the batch runs.
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.001"
    val out = graft.ops.StreamingGate.tempDir("graft-verify-metrics").toString
    val picked = Set("q02_filter_project", "q11_set_ops", "q19_scalar_functions")
    val scrapes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var port = -1
    val poller = new Thread(() => {
      while (port == -1) Thread.sleep(5)
      while (!Thread.currentThread().isInterrupted) {
        try {
          val conn = java.net.URI.create(s"http://127.0.0.1:$port/metrics")
            .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
          if (conn.getResponseCode == 200)
            scrapes.add(new String(conn.getInputStream.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8))
          Thread.sleep(20)
        } catch { case _: InterruptedException => Thread.currentThread().interrupt()
                  case _: Exception => () }
      }
    })
    poller.setDaemon(true)
    poller.start()
    val (errors, fin) = graft.Verify.runBatch(spark, dir, out, picked, p => port = p)
    poller.interrupt()
    assert(errors.isEmpty, s"verify batch errors: $errors")
    // final stage readings: every query counted ok, FSM ticks advanced,
    // and each query's Dataset.observe row gauge matches its parquet dump
    assert(fin("counter.queries_ok") == picked.size.toLong)
    assert(fin("counter.ticks") > 0L)
    for (name <- picked) {
      val rows = spark.read.parquet(s"$out/$name").count()
      assert(fin.get(s"gauge.verify_$name.rows").contains(rows),
        s"observed row gauge for $name != $rows in: ${fin.keys.mkString(",")}")
    }
    // LIVE evidence: the endpoint answered while the batch was running,
    // serving the verify stage's metric lines over the wire
    import scala.jdk.CollectionConverters._
    val all = scrapes.asScala.toSeq
    assert(all.nonEmpty, "no successful live scrape during the batch")
    assert(all.exists(_.contains("stage_metric{stage_name=\"verify\"")),
      "live scrapes never carried the verify stage's metrics")
  }
}
