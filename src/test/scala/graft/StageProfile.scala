package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Test-scope profiling harness (NOT part of the library jar): runs named
  * gate queries cold and prints per-stage wall time, task counts, and
  * shuffle read/write volumes and spill — the evidence for "the residual
  * cost is the exchange itself" claims in SCALE.md. Each stage also
  * names the graft call that ran it: the first graft frame outside `Q`
  * in the call site of its SQL execution (AQE runs query stages on
  * helper threads) or, for an RDD job, of the job itself.
  *
  * Usage: sbt "Test/runMain graft.StageProfile <dataDir> <query> [query…]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    val spark = Sessions.local()
    final case class St(name: String, ms: Long, tasks: Int,
        shufWriteMB: Double, shufReadMB: Double, shufWriteRec: Long,
        memSpillMB: Double, diskSpillMB: Double, site: String)
    val stages = mutable.ArrayBuffer[St]()
    def graftSite(longForm: String): String =
      longForm.linesIterator.map(_.trim)
        .find(l => l.startsWith("graft.") && !l.startsWith("graft.ops.Q$")).getOrElse("-")
    val execSite = mutable.Map[Long, String]()
    val stageSite = mutable.Map[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSite(x.executionId) = graftSite(x.details)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        val site = Option(p.getProperty("spark.sql.execution.id"))
          .flatMap(id => execSite.get(id.toLong))
          .getOrElse(graftSite(Option(p.getProperty("callSite.long")).getOrElse("")))
        j.stageIds.foreach(stageSite(_) = site)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += St(
          si.name.takeWhile(_ != '\n').take(60),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled / 1e6,
          m.diskBytesSpilled / 1e6,
          stageSite.getOrElse(si.stageId, "-"))
      }
    })
    for (q <- QueryRunner.select(names, Nil)) {
      // warm once (JIT), then profile a cold run of the query's own plan
      // (see QueryRunner.cold)
      QueryRunner.cold(spark)(q.run(spark, dir))
      stages.clear()
      val run = QueryRunner.cold(spark)(q.run(spark, dir))
      println(f"==== ${q.name}: ${run.sec}%.2f s total ====")
      // each operator's own spill metric, across every query stage
      val spills = SpillMetrics.collect(run.qe.executedPlan) {
        case p if p.metrics.get("spillSize").exists(_.value > 0) =>
          f"${p.nodeName} ${p.metrics("spillSize").value / 1e6}%.1f MB"
      }
      if (spills.nonEmpty) println(s"(operator spillSize: ${spills.mkString(", ")})")
      println(f"${"stage"}%-62s ${"ms"}%7s ${"tasks"}%5s ${"shW-MB"}%8s ${"shR-MB"}%8s ${"shW-rec"}%9s ${"spM-MB"}%8s ${"spD-MB"}%8s  site")
      stages.sortBy(-_.ms).foreach { s =>
        println(f"${s.name}%-62s ${s.ms}%7d ${s.tasks}%5d ${s.shufWriteMB}%8.1f ${s.shufReadMB}%8.1f ${s.shufWriteRec}%9d ${s.memSpillMB}%8.1f ${s.diskSpillMB}%8.1f  ${s.site}")
      }
      println(f"(spill: ${stages.map(_.memSpillMB).sum}%.1f MB memory, " +
        f"${stages.map(_.diskSpillMB).sum}%.1f MB disk)")
      val sumMs = stages.map(_.ms).sum
      println(f"(stage wall-time sum: ${sumMs / 1000.0}%.2f s across ${stages.size} stages; " +
        "stages overlap, so the sum can exceed wall time)\n")
    }
    spark.stop()
  }
}

private object SpillMetrics extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
