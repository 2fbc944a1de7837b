package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Sessions, SparkEntry}
import graft.functions.GraftFunctions
import graft.ops.{Q, QueryDef}

/** One benchmark run in one JVM: a closed loop with a single client that
  * submits each query only after the previous one has finished.
  *
  *  1. Set up the SparkSession and the graft SQL functions, timed from
  *     JVM start.
  *  2. Warm-up (untimed): `--warm-passes` passes on `--warm-data`, results
  *     counted and dropped, then every query once on `--data`, its result
  *     written as parquet under `--work` for the correctness check.
  *  3. Timed passes until `--seconds` have elapsed and at least
  *     `--min-passes` have run, each in a fresh
  *     seed-derived query order. Every query starts cold: staged caches
  *     and checkpoint blocks are released first.
  *  4. With `--trace`, passes run in blocks of four: untraced, traced,
  *     traced, untraced. Traced passes run with the span listeners attached.
  *
  * Everything measured lands in `<work>/result.json`.
  *
  * `--dump-oracles <file>` writes the oracle SQL of every registered query
  * and exits without starting Spark. */
object Main {
  final case class Opts(
      queries: Seq[String] = Nil,
      data: String = "",
      work: Path = Paths.get("."),
      seed: Long = 0,
      seconds: Double = 10,
      trace: Boolean = false,
      minPasses: Int = 1,
      warmData: String = "",
      warmPasses: Int = 0,
      cores: Int = Runtime.getRuntime.availableProcessors,
      dumpOracles: Option[Path] = None)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--queries" :: v :: t => parse(t, o.copy(queries = v.split(',').toSeq.filter(_.nonEmpty)))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--work" :: v :: t => parse(t, o.copy(work = Paths.get(v)))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--min-passes" :: v :: t => parse(t, o.copy(minPasses = v.toInt))
    case "--warm-data" :: v :: t => parse(t, o.copy(warmData = v))
    case "--warm-passes" :: v :: t => parse(t, o.copy(warmPasses = v.toInt))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--dump-oracles" :: v :: t => parse(t, o.copy(dumpOracles = Some(Paths.get(v))))
    case Nil => o
    case other => sys.error(s"unknown arguments: ${other.mkString(" ")}")
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(p: Path, v: Any): Unit =
    Files.write(p, json.writerWithDefaultPrettyPrinter().writeValueAsBytes(v))

  /** A query is named by its id, the part of its name before the first `_`. */
  private def resolve(ids: Seq[String]): Seq[QueryDef] = {
    val byId = SparkEntry.registry.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    ids.map(id => byId.getOrElse(id, sys.error(s"no graft query with id $id")))
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** The largest heap occupancy any collection leaves behind while `on`:
    * the data the run keeps alive, which a fixed-size heap hides from
    * the resident set. */
  private object LiveHeap extends NotificationListener {
    @volatile var on = false
    private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }

    def peakBytes: Long = synchronized(peak)

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = peak max used }
      }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args.toList)
    o.dumpOracles.foreach { p =>
      write(p, SparkEntry.oracleSql)
      sys.exit(0)
    }
    val queries = resolve(o.queries)
    Files.createDirectories(o.work.resolve("out"))

    // --- set-up: session start + graft function registration ---------------
    val t0 = System.nanoTime()
    val spark = Sessions.builder(o.cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    val t1 = System.nanoTime()
    GraftFunctions.register(spark)
    val setup = Map("total_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "start_s" -> secs(t0, t1), "register_s" -> secs(t1, System.nanoTime()))
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    // seconds from JVM start at which each phase of the run ended
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phaseDone(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3
    phaseDone("setup")

    def order(pass: Int): Seq[QueryDef] =
      new scala.util.Random(o.seed * 1000003L + pass).shuffle(queries)

    def cold(): Unit = {
      Q.releaseAllPersisted(spark)
      System.gc()
    }

    // --- warm-up and correctness pass ---------------------------------------
    // in the workload's own order, so that every seed meets the same JIT
    // state. A query's first executions in a JVM run up to a third slower
    // than later ones (class loading, code generation, JIT), so the warm
    // passes run first. They ignore errors: the correctness pass that
    // follows runs the same queries and records any it meets.
    for (_ <- 0 until o.warmPasses; q <- queries) {
      cold()
      try q.run(spark, o.warmData).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    val warmup = queries.map { q =>
      cold()
      val t0 = System.nanoTime()
      val err = try {
        q.run(spark, o.data).write.mode("overwrite")
          .parquet(o.work.resolve("out").resolve(q.name).toString)
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      err.foreach(m => System.err.println(s"[perfbench] ${q.name} failed in warm-up: $m"))
      Map("query" -> q.name, "seconds" -> secs(t0, System.nanoTime()),
        "error" -> err.orNull)
    }

    phaseDone("warmup")

    // --- calibration: a fixed job independent of the code under test -------
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("id % 997 AS k")
        .groupBy("k").count().queryExecution.toRdd.count()
      secs(t0, System.nanoTime())
    }
    calibOnce() // compiles the job's generated code
    val calib = calibOnce()
    phaseDone("calibration")

    // --- timed passes ---------------------------------------------------------
    val tracer = new Tracer
    def attach(): Unit = {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      spark.streams.addListener(tracer.streams)
    }
    def detach(): Unit = {
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      spark.streams.removeListener(tracer.streams)
    }
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // JVM-wide collection time: executors share the driver JVM in local mode
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
      .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime max 0L).sum
    LiveHeap.install()
    LiveHeap.on = true
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    // traced runs order passes untraced, traced, traced, untraced, so that
    // warming up through the run does not favour either side
    val minPasses = if (o.trace) 4 else o.minPasses
    var pass = 0
    while (pass < minPasses || System.nanoTime() < deadline || (o.trace && pass % 4 != 0)) {
      val traced = o.trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) attach()
      var wall = 0.0
      for (q <- order(pass)) {
        cold()
        sc.setLocalProperty(Tags.Query, q.name)
        sc.setLocalProperty(Tags.Pass, pass.toString)
        tracer.current = (q.name, pass)
        val startMs = System.currentTimeMillis()
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        var t1 = t0
        val outcome = try {
          val df = q.run(spark, o.data)
          t1 = System.nanoTime()
          df.queryExecution.toRdd.count()
          Right(df)
        } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        val t2 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        val gc = gcMs() - gc0
        sc.setLocalProperty(Tags.Query, null)
        sc.setLocalProperty(Tags.Pass, null)
        wall += secs(t0, t2)
        outcome.left.foreach(m =>
          System.err.println(s"[perfbench] ${q.name} failed in pass $pass: $m"))
        if (traced) outcome.foreach { df =>
          val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          tracer.recordQuery(QuerySpan(q.name, pass, startMs, endMs,
            Tracer.planMs(df.queryExecution), gc, cached))
        }
        samples += Map("query" -> q.name, "pass" -> pass, "traced" -> traced,
          "build_s" -> secs(t0, t1), "exec_s" -> secs(t1, t2),
          "total_s" -> secs(t0, t2), "error" -> outcome.left.toOption.orNull)
      }
      if (traced) detach()
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall)
      pass += 1
    }
    LiveHeap.on = false
    Q.releaseAllPersisted(spark)
    phaseDone("timed")

    // --- per-layer numbers of the traced passes -----------------------------
    val tracedPasses = passes.filter(_("traced") == true).map(_("pass").asInstanceOf[Int]).toSet
    val layers: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val ts = samples.filter(_("traced") == true)
        def sum(k: String) = ts.map(_(k).asInstanceOf[Double]).sum / (tracedPasses.size max 1)
        val wall = passes.filter(_("traced") == true).map(_("wall_s").asInstanceOf[Double])
        Tracer.layers(tracer, tracedPasses, wall.sum / (wall.size max 1), o.cores) ++
          Map("ops.build_s" -> sum("build_s"), "ops.exec_s" -> sum("exec_s"))
      }
    if (o.trace) write(o.work.resolve("spans.json"), spans(tracer))

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble)
    write(o.work.resolve("result.json"), Map(
      "setup" -> setup,
      "warmup" -> warmup,
      "samples" -> samples,
      "passes" -> passes,
      "layers" -> layers,
      "calib_s" -> calib,
      "phases" -> phases,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "heap_committed_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0,
      "heap_live_mb" -> LiveHeap.peakBytes / 1048576.0,
      "peak_rss_mb" -> hwmKb.map(_ / 1024.0).getOrElse(0.0)))
    spark.stop()
    sys.exit(0)
  }

  /** Query → job → stage spans of the traced passes, each with its self
    * time: its own duration minus the part its children cover. */
  private def spans(t: Tracer): Seq[Map[String, Any]] = t.synchronized {
    val stagesByJob = t.stages.groupBy(_.job)
    val jobsByQuery = t.jobs.values.toSeq.groupBy(j => (j.query, j.pass))
    t.queries.toSeq.map { q =>
      val js = jobsByQuery.getOrElse((q.query, q.pass), Nil)
      Map("kind" -> "query", "name" -> q.query, "pass" -> q.pass,
        "start_ms" -> q.start, "end_ms" -> q.end, "gc_ms" -> q.gcMs,
        "self_ms" -> ((q.end - q.start) - Tracer.covered(js.map(j => (j.start, j.end)), q.start, q.end)),
        "children" -> js.map { j =>
          val ss = stagesByJob.getOrElse(j.id, Nil).toSeq
          Map("kind" -> "job", "id" -> j.id, "layer" -> j.layer, "site" -> j.site,
            "start_ms" -> j.start, "end_ms" -> j.end,
            "self_ms" -> ((j.end - j.start) - Tracer.covered(ss.map(s => (s.start, s.end)), j.start, j.end)),
            "children" -> ss.map { s =>
              Map("kind" -> "stage", "id" -> s.id, "tasks" -> s.tasks,
                "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> (s.end - s.start),
                "run_ms" -> s.runMs, "input_bytes" -> s.inBytes,
                "shuffle_write_bytes" -> s.shWriteBytes)
            })
        })
    }
  }
}
