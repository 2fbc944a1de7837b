package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark local properties the driver sets around each timed query, so
  * every job (and every stream started by the query) can be traced back
  * to the query and pass that caused it. */
object Tags {
  val Query = "perfbench.query"
  val Pass = "perfbench.pass"
  val StreamId = "sql.streaming.queryId"
  val SqlExecution = "spark.sql.execution.id"
}

/** Layer attribution from a job's call site. A job takes its layer from
  * the first `graft.*` frame of its call stack: a materialization
  * primitive of `graft.ops.Q` is a barrier, a fixpoint loop is a
  * fixpoint, any other graft frame is eager work inside `QueryDef.run`
  * ("ops"). A job with no graft frame runs the returned plan ("exec"),
  * or a micro-batch if it carries a streaming query id ("stream").
  * Jobs that Spark submits from its own threads (adaptive query stages,
  * broadcasts) take the call site of the SQL execution they belong to. */
object Layers {
  val Barrier = Seq("graft.ops.Q$.staged", "graft.ops.Q$.roundCheckpoint")
  val Fixpoint = Seq("minLabelComponents", "s06Cents", "hierCents")

  def graftFrames(callSite: String): Seq[String] =
    callSite.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq

  def of(frames: Seq[String], streaming: Boolean): String =
    if (streaming) "stream"
    else frames.headOption match {
      case Some(f) if Barrier.exists(f.startsWith) => "barrier"
      case Some(f) if Fixpoint.exists(f.contains) => "fixpoint"
      case Some(_) => "ops"
      case None => "exec"
    }

  def underFixpoint(frames: Seq[String]): Boolean =
    frames.exists(f => Fixpoint.exists(f.contains))
}

final case class QuerySpan(query: String, pass: Int, start: Long, end: Long,
    planMs: Double, gcMs: Long, cachedBytes: Long)

/** `action` names the user action a job serves: the root SQL execution,
  * or the job itself for RDD actions. */
final case class JobSpan(id: Int, query: String, pass: Int, layer: String,
    site: String, inFixpoint: Boolean, action: String, start: Long, var end: Long)

final case class StageSpan(id: Int, job: Int, start: Long, end: Long,
    tasks: Int, runMs: Long, cpuNs: Long, inBytes: Long,
    inRecords: Long, shWriteBytes: Long, shWriteRecords: Long,
    shWriteNs: Long, shReadRecords: Long, persisted: Seq[Int])

final case class TaskSample(stage: Int, runMs: Long, inBytes: Long)

final case class BatchSample(query: String, pass: Int, streamId: String,
    triggerMs: Long, planMs: Long, addBatchMs: Long, commitMs: Long,
    rowsIn: Long, stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** Records spans (query → job → stage), task samples, nested planning
  * time and streaming progress while attached. Spark delivers listener
  * events on its own threads, so every collection is guarded by `this`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val queries = mutable.ArrayBuffer.empty[QuerySpan]
  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  val stages = mutable.ArrayBuffer.empty[StageSpan]
  val tasks = mutable.ArrayBuffer.empty[TaskSample]
  val batches = mutable.ArrayBuffer.empty[BatchSample]
  /** Planning time of actions run eagerly inside `QueryDef.run`. */
  var nestedPlanMs = 0.0
  private val stageJob = mutable.Map.empty[Int, Int]
  /** Call site and root of every SQL execution seen starting. */
  private val executions = mutable.Map.empty[Long, (String, Long)]
  private val streamOwner = mutable.Map.empty[String, (String, Int)]
  /** Set by the driver thread around each query; read synchronously in
    * `onQueryStarted`, which Spark calls on the thread starting a stream. */
  @volatile var current: (String, Int) = ("", -1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    def sqlSite(id: Long): Seq[String] = executions.get(id) match {
      case Some((site, root)) =>
        val own = Layers.graftFrames(site)
        if (own.nonEmpty || root == id) own else sqlSite(root)
      case None => Nil
    }
    val sqlId = prop(Tags.SqlExecution).map(_.toLong)
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val frames = Some(Layers.graftFrames(site)).filter(_.nonEmpty)
      .orElse(sqlId.map(sqlSite)).getOrElse(Nil)
    val action = sqlId.map(id => s"sql-${executions.get(id).map(_._2).getOrElse(id)}")
      .getOrElse(s"job-${e.jobId}")
    val span = JobSpan(e.jobId, prop(Tags.Query).getOrElse(""),
      prop(Tags.Pass).map(_.toInt).getOrElse(-1),
      Layers.of(frames, prop(Tags.StreamId).isDefined),
      frames.headOption.getOrElse(""), Layers.underFixpoint(frames), action,
      e.time, e.time)
    jobs(e.jobId) = span
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        executions(s.executionId) = (s.details, s.rootExecutionId.getOrElse(s.executionId))
      }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    stages += StageSpan(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, g(_.executorRunTime), g(_.executorCpuTime),
      g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(_.shuffleWriteMetrics.recordsWritten),
      g(_.shuffleWriteMetrics.writeTime),
      g(_.shuffleReadMetrics.recordsRead),
      i.rddInfos.filter(_.storageLevel.isValid).map(_.id))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      tasks += TaskSample(e.stageId, m.executorRunTime, m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { nestedPlanMs += Tracer.planMs(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def recordQuery(q: QuerySpan): Unit = synchronized { queries += q }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = Tracer.this.synchronized {
      streamOwner(e.id.toString) = current
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      val (q, pass) = streamOwner.getOrElse(p.id.toString, ("", -1))
      batches += BatchSample(q, pass, p.id.toString, d("triggerExecution"),
        d("queryPlanning"), d("addBatch"), d("walCommit") + d("commitOffsets"),
        p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  /** Analysis + optimization + planning time of one query execution. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum

  /** Length of the union of `[start, end)` intervals, clipped to a window. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    for ((s, e) <- intervals.map { case (s, e) => (s max from, e min to) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val s0 = s max reach
      if (e > s0) { total += e - s0; reach = e }
    }
    total
  }

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted.toIndexedSeq
    if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  /** The per-layer metrics of the traced passes, each a per-pass mean. */
  def layers(t: Tracer, passes: Set[Int], passWallS: Double, cores: Int): Map[String, Double] =
    t.synchronized {
      val n = passes.size.toDouble max 1.0
      val js = t.jobs.values.filter(j => passes(j.pass)).toSeq
      val jobIds = js.map(_.id).toSet
      val ss = t.stages.filter(s => jobIds(s.job)).toSeq
      val stageIds = ss.map(_.id).toSet
      val ts = t.tasks.filter(x => stageIds(x.stage)).toSeq
      val qs = t.queries.filter(q => passes(q.pass)).toSeq
      val bs = t.batches.filter(b => passes(b.pass)).toSeq
      val idleMs = qs.map { q =>
        val mine = ss.filter(s => js.exists(j => j.id == s.job && j.query == q.query && j.pass == q.pass))
        (q.end - q.start) - covered(mine.map(s => (s.start, s.end)), q.start, q.end)
      }.sum
      // skew of shuffle-read stages: max / median task time, weighted by
      // the stage's share of task time
      val tasksByStage = ts.groupBy(_.stage)
      val skewed = ss.filter(s => s.shReadRecords > 0).flatMap { s =>
        tasksByStage.get(s.id).filter(_.size >= 2).map { xs =>
          val med = median(xs.map(_.runMs.toDouble))
          (xs.map(_.runMs).max / (med max 1.0), xs.map(_.runMs).sum.toDouble)
        }
      }
      val skew =
        if (skewed.isEmpty || skewed.map(_._2).sum == 0) 1.0
        else skewed.map { case (r, w) => r * w }.sum / skewed.map(_._2).sum
      // persisted RDDs seen by the traced stages: a build is the first
      // stage that includes one, every later stage including it a read
      val seen = ss.flatMap(_.persisted).groupBy(identity).view.mapValues(_.size).toMap
      val builds = seen.size.toDouble
      val reads = seen.values.map(_ - 1).sum.toDouble
      val runS = ss.map(_.runMs).sum / 1e3
      val streamIds = bs.map(_.streamId).distinct
      val lastBatch = streamIds.flatMap(id => bs.filter(_.streamId == id).lastOption)
      // a layer a workload does not use reports a share of 0, not a time
      val wallMs = passWallS * 1e3 * n
      val triggerMs = bs.map(_.triggerMs).sum.toDouble
      def share(part: Double, whole: Double) = if (whole > 0) part / whole else 0.0
      def busyMs(sel: JobSpan => Boolean) = js.filter(sel).map(j => (j.end - j.start).toDouble).sum
      Map(
        "driver.jobs" -> js.size / n,
        "driver.stages" -> ss.size / n,
        "driver.tasks" -> ss.map(_.tasks).sum / n,
        "driver.plan_ms" -> (qs.map(_.planMs).sum + t.nestedPlanMs) / n,
        "driver.idle_s" -> idleMs / 1e3 / n,
        "scan.rows" -> ss.map(_.inRecords).sum / n,
        "scan.bytes" -> ss.map(_.inBytes).sum / n,
        "scan.task_s" -> ts.filter(_.inBytes > 0).map(_.runMs).sum / 1e3 / n,
        "exchange.bytes" -> ss.map(_.shWriteBytes).sum / n,
        "exchange.records" -> ss.map(_.shWriteRecords).sum / n,
        "exchange.write_s" -> ss.map(_.shWriteNs).sum / 1e9 / n,
        "exchange.skew" -> skew,
        "exec.run_s" -> runS / n,
        "exec.cpu_s" -> ss.map(_.cpuNs).sum / 1e9 / n,
        "exec.util" -> share(runS / n, cores * passWallS),
        "barrier.builds" -> builds / n,
        "barrier.jobs" -> js.count(_.layer == "barrier") / n,
        "barrier.busy_frac" -> share(busyMs(_.layer == "barrier"), wallMs),
        "barrier.cached_bytes" -> qs.map(_.cachedBytes).sum / n,
        "barrier.reads_per_build" -> share(reads, builds),
        "fixpoint.rounds" -> js.filter(_.inFixpoint).map(_.action).distinct.size / n,
        "fixpoint.jobs" -> js.count(_.layer == "fixpoint") / n,
        "fixpoint.busy_frac" -> share(busyMs(_.inFixpoint), wallMs),
        "stream.batches" -> bs.size / n,
        "stream.rows_in" -> bs.map(_.rowsIn).sum / n,
        "stream.state_rows" -> lastBatch.map(_.stateRows).sum / n,
        "stream.state_bytes" -> lastBatch.map(_.stateBytes).sum / n,
        "stream.trigger_frac" -> share(triggerMs, wallMs),
        "stream.plan_frac" -> share(bs.map(_.planMs).sum, triggerMs),
        "stream.add_batch_frac" -> share(bs.map(_.addBatchMs).sum, triggerMs),
        "stream.commit_frac" -> share(bs.map(_.commitMs).sum, triggerMs),
        "stream.state_commit_frac" -> share(bs.map(_.stateCommitMs).sum, triggerMs))
    }
}
