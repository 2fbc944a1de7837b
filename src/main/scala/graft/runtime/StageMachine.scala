package graft.runtime

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Stage lifecycle phases — the reference's `StagePhase`
  * (`/root/reference/gasket/src/runtime.rs:27-70`). */
sealed trait StagePhase
object StagePhase {
  case object Bootstrap extends StagePhase
  case object Scheduling extends StagePhase
  case object Executing extends StagePhase
  case object Teardown extends StagePhase
  case object Ended extends StagePhase
}

/** Externally observed stage state — `runtime.rs:361-376`. */
sealed trait StageState
object StageState {
  final case class Alive(phase: StagePhase) extends StageState
  /** Tick heartbeat is stale beyond `Policy.tickTimeout` — `runtime.rs:393-403`. */
  case object Blocked extends StageState
  /** Stage thread died without reaching Ended. */
  case object Dropped extends StageState
}

/** Shared supervision cell between the stage thread and its [[Tether]] —
  * the reference's `Anchor` (`runtime.rs:319-343`): phase + heartbeat
  * atomics, dismissal token, metric registry, event transcript. */
final class Anchor(val name: String, val policy: Policy) {
  val registry = new Registry
  private[runtime] val phase = new AtomicReference[StagePhase](StagePhase.Bootstrap)
  private[runtime] val lastTickNanos = new AtomicLong(System.nanoTime())
  private[runtime] val dismissed = new AtomicBoolean(false)
  private[runtime] val failure = new AtomicReference[Throwable](null)
  private[runtime] val events = new ConcurrentLinkedQueue[String]()
  @volatile private[runtime] var thread: Thread = _

  private[runtime] def tick(p: StagePhase): Unit = {
    phase.set(p)
    lastTickNanos.set(System.nanoTime())
    registry.counter("ticks").inc()
  }
  private[runtime] def event(e: String): Unit = events.add(e)
}

/** Supervision handle — the reference's `Tether` (`runtime.rs:345-420`). */
final class Tether(private[runtime] val anchor: Anchor) {
  def name: String = anchor.name
  def currentPhase: StagePhase = anchor.phase.get()
  def failureOption: Option[Throwable] = Option(anchor.failure.get())
  def readMetrics(): Map[String, Long] = anchor.registry.readings()
  def eventLog(): Seq[String] = anchor.events.asScala.toSeq

  /** Liveness probe — `runtime.rs:378-419`: Dropped if the thread died
    * short of Ended; Blocked if the heartbeat is stale. */
  def checkState(): StageState = {
    val p = anchor.phase.get()
    if (p == StagePhase.Ended) StageState.Alive(p)
    else if (anchor.thread != null && !anchor.thread.isAlive) StageState.Dropped
    else {
      val age = (System.nanoTime() - anchor.lastTickNanos.get()).nanos
      if (age > anchor.policy.tickTimeout) StageState.Blocked
      else StageState.Alive(p)
    }
  }

  /** Cooperative cancellation: flag + interrupt (the JVM analogue of the
    * reference's CancellationToken raced at every await,
    * `runtime.rs:157-167,204-214`). */
  def dismiss(): Unit = {
    anchor.dismissed.set(true)
    val t = anchor.thread
    if (t != null) t.interrupt()
  }

  /** Wait for the stage thread to end; `Duration.Inf` waits for as long
    * as it runs. */
  def join(timeout: Duration = 30.seconds): Unit = {
    val t = anchor.thread
    if (t != null) t.join(if (timeout.isFinite) timeout.toMillis else 0L)
  }

  def waitEnded(timeout: FiniteDuration = 30.seconds): Boolean = {
    val deadline = System.nanoTime() + timeout.toNanos
    while (currentPhase != StagePhase.Ended && System.nanoTime() < deadline)
      Thread.sleep(1)
    currentPhase == StagePhase.Ended
  }
}

/** The per-stage supervision loop — the reference's `StageMachine`
  * (`runtime.rs:234-316`) as a thread-hosted FSM:
  * Bootstrap → (Scheduling → Executing)* → Teardown → Ended, with
  * per-phase retry/backoff, same-unit execution retry, restart-from-
  * bootstrap escalation, and interrupt-based timely dismissal.
  */
final class StageMachine[U](worker: Worker[U], policy: Policy, anchor: Anchor) {

  private val idleDelay = 2.millis

  private sealed trait ExecOutcome
  private case object ExecOk extends ExecOutcome
  private case object ExecSkipped extends ExecOutcome
  private case object ExecRestart extends ExecOutcome
  private final case class ExecFatal(e: Throwable) extends ExecOutcome

  // Whether worker.bootstrap() ever succeeded in the current incarnation —
  // a stage that never bootstrapped has no resources to tear down, and the
  // reference goes straight to Ended in that case (runtime.rs:247-253).
  private var bootstrapped = false

  def run(): Unit = {
    try {
      var restart = true
      while (restart && !anchor.dismissed.get()) {
        restart = false
        if (bootstrapWithRetry()) {
          bootstrapped = true
          workLoop() match {
            case ExecRestart =>
              anchor.event("restart")
              anchor.registry.counter("restarts").inc()
              runTeardown()
              bootstrapped = false
              restart = true
            case ExecFatal(e) => anchor.failure.set(e)
            case _ => ()
          }
        }
      }
    } catch {
      case _: InterruptedException => anchor.event("interrupted")
    } finally {
      Thread.interrupted() // clear so teardown's own blocking calls work
      if (bootstrapped) runTeardown()
      anchor.tick(StagePhase.Ended)
      anchor.event("ended")
    }
  }

  // ---- phases -----------------------------------------------------------

  /** Bootstrap failures retry only on [[WorkerError.Retry]]
    * (`runtime.rs:247-253`); any other error is Panic semantics — the
    * stage ends, without teardown (nothing was acquired). */
  private def bootstrapWithRetry(): Boolean = {
    anchor.tick(StagePhase.Bootstrap)
    anchor.event("bootstrap")
    var attempt = 0
    while (true) {
      try { worker.bootstrap(); return true }
      catch {
        case e: InterruptedException => throw e
        case e: WorkerError.Retry =>
          if (attempt < policy.bootstrapRetry.maxRetries) {
            anchor.registry.counter("retries").inc()
            Thread.sleep(policy.bootstrapRetry.backoffDelay(attempt).toMillis)
            attempt += 1
            anchor.tick(StagePhase.Bootstrap)
          } else { anchor.failure.set(e); return false }
        case e: Throwable => anchor.failure.set(e); return false
      }
    }
    false
  }

  /** Schedule failures follow the same escalation as execute
    * (`runtime.rs:256-265`): Retry under workRetry (dismissal resets the
    * counter and keeps scheduling), Restart restarts, anything else ends
    * the stage. */
  private def scheduleWithRetry(): Either[ExecOutcome, WorkSchedule[U]] = {
    var attempt = 0
    while (true) {
      // race the dismissal token at every iteration (the reference races
      // its CancellationToken at every await): a schedule() that throws
      // Retry non-interruptibly must not hot-spin past a dismiss() when
      // the dismissible branch resets the counter with no sleep
      if (anchor.dismissed.get()) return Left(ExecOk)
      try return Right(worker.schedule())
      catch {
        case e: InterruptedException => throw e
        case _: WorkerError.Restart => return Left(ExecRestart)
        case e: WorkerError.Retry =>
          if (attempt < policy.workRetry.maxRetries) {
            anchor.registry.counter("retries").inc()
            Thread.sleep(policy.workRetry.backoffDelay(attempt).toMillis)
            attempt += 1
            anchor.tick(StagePhase.Scheduling)
          } else if (policy.workRetry.dismissible) {
            anchor.event("schedule-dismissed")
            attempt = 0
          } else return Left(ExecFatal(e))
        case e: Throwable => return Left(ExecFatal(e))
      }
    }
    Left(ExecFatal(new IllegalStateException("unreachable")))
  }

  /** Returns the outcome that ended the loop (Done/dismiss → ExecOk). */
  private def workLoop(): ExecOutcome = {
    while (!anchor.dismissed.get()) {
      anchor.tick(StagePhase.Scheduling)
      val scheduled = scheduleWithRetry() match {
        case Left(outcome) => return outcome
        case Right(s) => s
      }
      scheduled match {
        case WorkSchedule.Done =>
          anchor.event("scheduled-done")
          return ExecOk
        case WorkSchedule.Idle =>
          Thread.sleep(idleDelay.toMillis)
        case WorkSchedule.Unit(u) =>
          anchor.tick(StagePhase.Executing)
          executeWithRetry(u) match {
            case ExecOk => anchor.registry.counter("units_executed").inc()
            case ExecSkipped => anchor.registry.counter("units_skipped").inc()
            case other => return other
          }
      }
    }
    ExecOk
  }

  /** Same-unit retry to `workRetry.maxRetries` — the reference keeps the
    * unit in `StageState::Executing` across retries (`runtime.rs:267-276`,
    * proven by its `honors_max_retries` test, `runtime.rs:617-662`).
    * Only [[WorkerError.Retry]] retries; any other exception escaping the
    * worker is Panic semantics (Worker scaladoc, `runtime.rs:275`). */
  private def executeWithRetry(u: U): ExecOutcome = {
    var attempt = 0
    while (true) {
      try { worker.execute(u); return ExecOk }
      catch {
        case e: InterruptedException => throw e
        case _: WorkerError.Restart => return ExecRestart
        case e: WorkerError.Retry =>
          if (attempt < policy.workRetry.maxRetries) {
            anchor.registry.counter("retries").inc()
            Thread.sleep(policy.workRetry.backoffDelay(attempt).toMillis)
            attempt += 1
            anchor.tick(StagePhase.Executing)
          } else if (policy.workRetry.dismissible) {
            anchor.event("unit-dismissed")
            return ExecSkipped
          } else return ExecFatal(e)
        case e: Throwable => return ExecFatal(e)
      }
    }
    ExecOk
  }

  private def runTeardown(): Unit = {
    anchor.tick(StagePhase.Teardown)
    anchor.event("teardown")
    var attempt = 0
    var done = false
    while (!done) {
      try { worker.teardown(); done = true }
      catch {
        case _: InterruptedException => done = true
        case e: Throwable =>
          if (attempt < policy.teardownRetry.maxRetries) {
            Thread.sleep(policy.teardownRetry.backoffDelay(attempt).toMillis)
            attempt += 1
          } else done = true
      }
    }
  }
}

/** Launch a stage on its own daemon thread — the reference's
  * `spawn_stage` (`runtime.rs:454-478`): one OS thread per stage, state
  * shared with the supervisor only through the [[Anchor]] atomics. */
object StageRuntime {
  def spawn[U](name: String, worker: Worker[U], policy: Policy = Policy()): Tether =
    spawnInstrumented(name, _ => worker, policy)

  /** [[spawn]] with the stage's own metric registry handed to the worker
    * factory — the reference pattern of workers registering their
    * counters against the stage runtime in bootstrap
    * (`/root/reference/gasket/src/metrics.rs:4-111`), so custom counters
    * surface through the SAME Tether/Prometheus path as the runtime's
    * built-in ticks. */
  def spawnInstrumented[U](name: String,
      mkWorker: Registry => Worker[U], policy: Policy = Policy()): Tether = {
    val anchor = new Anchor(name, policy)
    val worker = mkWorker(anchor.registry)
    val thread = new Thread(
      () => new StageMachine(worker, policy, anchor).run(),
      s"graft-stage-$name")
    thread.setDaemon(true)
    anchor.thread = thread
    thread.start()
    new Tether(anchor)
  }
}
