package graft

import graft.streaming._
import graft.runtime.{Policy, RetryPolicy, StagePhase}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** Serializable probe counters for the ForeachWriter lifecycle test (the
  * writer is serialized to tasks; instance fields wouldn't come back). */
object ForeachProbe {
  val opens = new AtomicInteger(0)
  val processed = new AtomicInteger(0)
  val closes = new AtomicInteger(0)
}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming tumbling windows == batch date_trunc aggregation (FIXTURES §3)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventTime.windowedAgg(df).writeStream
      .outputMode("complete").format("memory").queryName("win_eq").start()

    val rows = graft.ops.Q.events(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
      .as[(Timestamp, String, Double)].collect().toSeq
    mem.addData(rows)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("win_eq")
      .select($"window_start", $"event_type", $"n", $"sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = graft.ops.Q.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", $"ts").as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(graft.ops.Q.D6)).cast("double").as("sum_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
  }

  test("watermark drops late data in append mode") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventTime.windowedAgg(df, watermark = "10 minutes").writeStream
      .outputMode("append").format("memory").queryName("win_late").start()

    // batch 1: window [01:00,02:00) has 2 rows; max ts 03:30 puts the
    // watermark at 03:20, so [01:00) and [02:00) close and emit
    mem.addData(Seq(
      (ts("2024-01-01 01:10:00"), "click", 1.0),
      (ts("2024-01-01 01:40:00"), "click", 2.0),
      (ts("2024-01-01 02:30:00"), "click", 4.0),
      (ts("2024-01-01 03:30:00"), "click", 8.0)))
    q.processAllAvailable()
    // batch 2: 01:30 is far behind the 03:20 watermark -> dropped
    mem.addData(Seq((ts("2024-01-01 01:30:00"), "click", 100.0)))
    q.processAllAvailable()
    // batch 3: advance watermark past 04:00 so [03:00,04:00) emits
    mem.addData(Seq((ts("2024-01-01 05:00:00"), "click", 16.0)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_late")
      .select($"window_start", $"n", $"sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.contains((ts("2024-01-01 01:00:00"), 2L, 3.0))) // late row absent
    assert(rows.contains((ts("2024-01-01 02:00:00"), 1L, 4.0)))
    assert(rows.contains((ts("2024-01-01 03:00:00"), 1L, 8.0)))
    assert(!rows.exists(_._3 == 103.0), "late event must not be re-aggregated")
  }

  test("stateful sessionization across micro-batches (flatMapGroupsWithState)") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[EventTime.Ev]
    val q = EventTime.sessionize(mem.toDS(), gap = 30.minutes).writeStream
      .outputMode("append").format("memory").queryName("sessions").start()

    mem.addData(Seq(
      EventTime.Ev(1, ts("2024-01-01 01:00:00"), 1.0),
      EventTime.Ev(1, ts("2024-01-01 01:10:00"), 2.0),
      EventTime.Ev(2, ts("2024-01-01 01:00:00"), 5.0)))
    q.processAllAvailable()
    // user 1 returns 2h later -> first session closes with 2 events
    mem.addData(Seq(EventTime.Ev(1, ts("2024-01-01 03:00:00"), 3.0)))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions").as[EventTime.SessionAgg].collect()
    val closed = sessions.filter(_.user_id == 1)
    assert(closed.length == 1)
    assert(closed.head.n_events == 2 && closed.head.sum_value == 3.0)
    assert(closed.head.start_ms == ts("2024-01-01 01:00:00").getTime)
    assert(closed.head.end_ms == ts("2024-01-01 01:10:00").getTime)
  }

  test("mapGroupsWithState: one state-derived row per key per batch") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val running = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Double, (Long, Double)](GroupStateTimeout.NoTimeout) {
        (key: Long, vals: Iterator[(Long, Double)], state: GroupState[Double]) =>
          val mx = (vals.map(_._2) ++ state.getOption.iterator).max
          state.update(mx)
          (key, mx)
      }
    val q = running.toDF("user", "max_value").writeStream
      .outputMode("update").format("memory").queryName("running_max").start()
    mem.addData(Seq((1L, 5.0), (1L, 3.0), (2L, 9.0)))
    q.processAllAvailable()
    mem.addData(Seq((1L, 7.0), (2L, 1.0)))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("running_max").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(last == Map(1L -> 7.0, 2L -> 9.0))
  }

  test("supervised streaming query: restart-with-backoff on failure, graceful stop") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Long]
    val attempts = new AtomicInteger(0)
    val processed = new AtomicInteger(0)
    mem.addData(1L to 10L)

    val tether = StreamSupervisor.spawn("flaky",
      Policy(bootstrapRetry = RetryPolicy(maxRetries = 3, backoffUnit = 5.millis))) { () =>
      mem.toDS().writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], _: Long) =>
          if (attempts.incrementAndGet() == 1)
            throw new RuntimeException("transient sink failure")
          processed.addAndGet(batch.collect().length)
          ()
        }.start()
    }

    val deadline = System.nanoTime() + 60.seconds.toNanos
    while (processed.get() < 10 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(processed.get() >= 10, s"processed=${processed.get()}")
    assert(tether.readMetrics()("counter.restarts") >= 1)
    tether.dismiss()
    assert(tether.waitEnded(30.seconds))
    assert(tether.currentPhase == StagePhase.Ended)
  }

  test("timer source ticks on the interval grid and stops on dismiss (TimerPort, messaging.rs:151-209)") {
    import StreamPipeline.StreamSource
    val tether = StreamPipeline.from(StreamSource.timer(250.millis))
      .spawn(spark) { w =>
        w.outputMode("append").format("memory").queryName("timer_ticks").start()
      }
    try {
      // memory sink registers its table when the query starts on the
      // supervision thread — poll for existence, then for >= 4 ticks
      val deadline = System.nanoTime() + 60.seconds.toNanos
      def n(): Long =
        if (!spark.catalog.tableExists("timer_ticks")) -1
        else spark.table("timer_ticks").count()
      while (n() < 4 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(n() >= 4, s"only ${n()} ticks before deadline")
      val rows = spark.table("timer_ticks").orderBy("tick")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      // ordinals are consecutive from 0 — no gaps, no duplicates
      assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong),
        s"ticks not consecutive: ${rows.map(_._1).toSeq}")
      // pacing is EXACT in the tick timestamps: the rate source stamps
      // rows on a fixed interval grid (this is the assertion the
      // reference's #[ignore]d test_timer_port never makes)
      rows.sliding(2).foreach { case Array((_, a), (_, b)) =>
        assert(b - a == 250L, s"tick spacing ${b - a}ms, want 250ms")
      }
    } finally {
      tether.dismiss() // TimerPort::stop — ends the ticker with the query
      assert(tether.waitEnded(30.seconds))
      assert(tether.currentPhase == StagePhase.Ended)
    }
  }

  test("stream-stream join with event-time bounds (purchase <- prior click)") {
    implicit val sql = spark.sqlContext
    val pm = MemoryStream[(Timestamp, Long, Long)] // ts, user, id
    val cm = MemoryStream[(Timestamp, Long, Long)]
    val p = pm.toDF().toDF("pts", "user_id", "pid").withWatermark("pts", "10 minutes")
    val c = cm.toDF().toDF("cts", "cuser", "cid").withWatermark("cts", "10 minutes")
    val joined = p.join(c,
      expr("user_id = cuser AND cts >= pts - interval 1 hour AND cts <= pts"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join").start()
    cm.addData(Seq((ts("2024-01-01 01:30:00"), 1L, 100L),
      (ts("2024-01-01 00:30:00"), 1L, 101L))) // 01:30 in window; 00:30 too old
    pm.addData(Seq((ts("2024-01-01 02:00:00"), 1L, 1L)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_join").select($"pid", $"cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 100L)))
  }

  test("streaming deduplication by key with watermark (dropDuplicates)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "1 hour").dropDuplicates("event_id")
    val q = df.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    mem.addData(Seq((ts("2024-01-01 01:00:00"), 1L), (ts("2024-01-01 01:01:00"), 2L)))
    q.processAllAvailable()
    mem.addData(Seq((ts("2024-01-01 01:02:00"), 1L), (ts("2024-01-01 01:03:00"), 3L)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select($"event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L)) // replayed id=1 suppressed
  }

  test("q49 dedup under the RocksDB state store (the 100 TB spill provider)") {
    // the SAME gate pipeline, state in RocksDB instead of executor heap:
    // result must equal the batch DISTINCT exactly, cross-batch state and
    // all (q49 replays its input, so batch 2 is 100% duplicates)
    val dir = "/root/testdata/sf0.001"
    val got = graft.ops.StreamingGate
      .dedupStream(spark, dir, Some(graft.streaming.StateStores.RocksDB))
      .collect().map(_.getString(0)).sorted.toSeq
    val want = graft.ops.Q.withViews(spark, dir, "documents")(
      s"SELECT DISTINCT md5(${graft.ops.Q.sNorm}) AS fp FROM documents")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(want.nonEmpty && got == want)
    // the provider conf must not leak out of the scoped pipeline
    assert(spark.conf.getOption(graft.streaming.StateStores.ProviderKey).isEmpty
      || !spark.conf.get(graft.streaming.StateStores.ProviderKey).contains("RocksDB"))
  }

  test("q49 leaves its input file untouched (the replay is a copy)") {
    // the replay file is dated a minute ahead so it batches second; staged
    // as a link, that date landed on the source file through the link
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = graft.ops.StreamingGate.tempDir("graft-q49-src")
    val staging = dir.resolve("staging").toString
    Seq("a  b", "A b", "c").toDF("text").coalesce(1).write.parquet(staging)
    val part = Files.list(java.nio.file.Paths.get(staging)).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    val src = Files.move(part, dir.resolve("documents.parquet"))
    val before = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    Files.setLastModifiedTime(src, before)
    assert(graft.ops.StreamingGate.q49.run(spark, dir.toString).count() == 2)
    assert(Files.getLastModifiedTime(src) == before)
  }

  test("q49 starts no OS process: checkpoint, state store and sink stay in the JVM") {
    // stock RawLocalFileSystem forks chmod per file create and readlink per
    // rename when no native-hadoop library is loaded (graft.io.LocalFs)
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val out = graft.ops.StreamingGate.tempDir("graft-q49-noproc")
    // the session (and Hadoop's one start-up probe, `setsid`) exists first
    assert(!spark.sparkContext.isStopped)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val rows =
      try {
        val n = graft.ops.StreamingGate.q49.run(spark, "/root/testdata/sf0.001").count()
        Seq(1, 2, 3).toDF("x").coalesce(1).write.parquet(out.resolve("one").toString)
        n
      } finally rec.stop()
    val file = out.resolve("q49.jfr")
    rec.dump(file)
    rec.close()
    val starts = RecordingFile.readAllEvents(file).asScala.toSeq
    val fromHadoop = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop"))))
    assert(rows > 0)
    assert(fromHadoop.isEmpty, s"${fromHadoop.size} of ${starts.size} process starts came " +
      s"from Hadoop, e.g. ${fromHadoop.take(3).map(_.getString("command")).mkString("; ")}")
  }

  test("q58 streaming near-dup: hits are strictly cross-batch; RocksDB run agrees") {
    // Owners must come from batch 0 (even doc_ids), dups from batch 1
    // (odd) — any same-batch emission means the bucket state leaked
    // within a trigger instead of across triggers.
    val dir = "/root/testdata/sf0.001"
    def runWith(p: Option[String]): Seq[(Long, Long, Long)] =
      graft.ops.StreamingGate.neardupStream(spark, dir, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val hits = runWith(None)
    assert(hits.nonEmpty, "no cross-batch collisions at sf0.001 — gate proves nothing")
    hits.foreach { case (_, owner, dup) =>
      assert(owner % 2 == 0, s"owner $owner not from batch 0")
      assert(dup % 2 == 1, s"dup $dup not from batch 1")
    }
    // same pipeline with state in RocksDB: identical hit set
    assert(runWith(Some(graft.streaming.StateStores.RocksDB)) == hits)
  }

  test("d20 streaming span dedup: later-batch docs only, removal real; RocksDB agrees") {
    val dir = "/root/testdata/sf0.001"
    def runWith(p: Option[String]): Seq[(Long, String, Long, Long, Long)] =
      graft.ops.StreamingGate.spanDedupStream(spark, dir, p)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val out = runWith(None)
    assert(out.nonEmpty)
    // output covers exactly the later (odd) batch — the ingest side
    out.foreach { case (id, _, _, _, _) =>
      assert(id % 2 == 1, s"doc $id is not a later-batch document") }
    // the registry genuinely stripped spans owned by the earlier batch
    assert(out.exists(_._4 > 0L), "no cross-batch span was removed")
    // removed spans are >= W tokens by construction: every removed-span
    // doc lost at least W tokens per span head
    out.filter(_._5 > 0).foreach { case (id, _, _, rem, spans) =>
      assert(rem >= spans * graft.ops.CurationOps.W,
        s"doc $id removed $rem tokens across $spans spans (< W per span)") }
    // same pipeline with state in RocksDB: identical output
    assert(runWith(Some(graft.streaming.StateStores.RocksDB)) == out)
  }

  test("d23 streaming deletes: per-batch snapshots shrink, sentinel on empty, RocksDB agrees") {
    val dir = "/root/testdata/sf0.001"
    def runWith(p: Option[String]): Seq[(Long, Long, Long, Long, Long)] =
      graft.ops.StreamingGate.deletePropagationStream(spark, dir, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sorted.toSeq
    val out = runWith(None)
    assert(out.nonEmpty, "tombstone batches touched no cluster")
    // a touched cluster emits once per touching batch; a cluster hit in
    // BOTH batches must emit strictly shrinking membership
    val byCluster = out.groupBy(_._2)
    byCluster.values.foreach { rows =>
      assert(rows.map(_._1).distinct.size == rows.size,
        "a cluster emitted twice for one batch")
      if (rows.size == 2) {
        val Seq(b0, b1) = rows.sortBy(_._1)
        assert(b1._5 < b0._5,
          s"cluster ${b0._2}: batch-1 membership did not shrink (${b0._5} -> ${b1._5})")
      }
    }
    // no emitted canonical is itself a tombstoned doc; sentinel rows are
    // exactly the (-1, -1, 0) shape
    out.foreach { case (_, cid, cd, cc, n) =>
      if (n == 0L) assert(cd == -1L && cc == -1L, s"bad sentinel for $cid")
      else assert(cd % 13 != 4, s"cluster $cid elected a deleted doc $cd")
    }
    // the FINAL emitted snapshot per cluster equals d22's batch repair
    // for that cluster (the streaming path converges to the batch truth)
    val d22 = SparkEntry.queries("d22_delete_propagation")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    byCluster.foreach { case (cid, rows) =>
      val last = rows.maxBy(_._1)
      if (last._5 > 0L)
        assert(d22.get(cid).contains((last._3, last._4, last._5)),
          s"cluster $cid: streaming snapshot ${last} != d22 repair ${d22.get(cid)}")
      else assert(!d22.contains(cid),
        s"cluster $cid retired in-stream but present in d22's output")
    }
    // same pipeline with state in RocksDB: identical emission set
    assert(runWith(Some(graft.streaming.StateStores.RocksDB)) == out)
  }

  test("d23 then d22 in one session checkpoint the cluster-member frame once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = "/root/testdata/sf0.001"
    val memberCols = Seq("cluster_id", "doc_id", "n_chars")
    val builds = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if ((action == "checkpoint" || action == "localCheckpoint") &&
          qe.analyzed.output.map(_.name) == memberCols) builds.incrementAndGet()
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    graft.ops.Q.clearStaged()
    spark.listenerManager.register(listener)
    try {
      graft.ops.StreamingGate.deletePropagationStream(spark, dir, None).collect()
      SparkEntry.queries("d22_delete_propagation")(spark, dir).collect()
    } finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(builds.get == 1,
      s"the (cluster_id, doc_id, n_chars) member frame was checkpointed ${builds.get} times")
  }

  test("d20 FSM: hot-shingle batch streams lazily — per-group memory O(1), not O(occurrences)") {
    import graft.ops.StreamingGate.{spanFsm, BucketOwner, SpanRow}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // a universal-boilerplate shingle: 300k occurrences of ONE hash in one
    // batch (the round-11 spelling buffered all of them into a Seq and
    // sorted it — one task's heap scaled with the batch). The FSM must
    // (a) not touch the iterator before returning when the hash is owned,
    // (b) emit in lockstep with downstream consumption (no buffering),
    // (c) fold the unseen-hash case into one running Long.
    val n = 300000
    var served = 0
    def rows: Iterator[SpanRow] = new Iterator[SpanRow] {
      private var i = 0
      def hasNext: Boolean = i < n
      def next(): SpanRow = { served += 1; i += 1; SpanRow(1000L + i % 7, i.toLong, "h") }
    }
    val owned = TestGroupState.create[BucketOwner](
      org.apache.spark.api.java.Optional.of(BucketOwner(2L)),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val out = spanFsm(rows, owned)
    assert(served == 0, s"FSM consumed $served rows up front on an owned hash")
    var pulled = 0
    while (out.hasNext) {
      out.next(); pulled += 1
      assert(served == pulled, s"FSM buffered ahead: served $served, emitted $pulled")
    }
    assert(pulled == n)
    // unseen hash: full fold, one Long of state, zero emissions
    served = 0
    val fresh = TestGroupState.create[BucketOwner](
      org.apache.spark.api.java.Optional.empty[BucketOwner](),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    assert(spanFsm(rows, fresh).isEmpty)
    assert(served == n)
    assert(fresh.get == BucketOwner(1000L)) // min doc_id across the batch
  }

  test("d23 FSM: a mixed-parity micro-batch fails loudly, state untouched") {
    // q71's rule for d23: bno came from the last row, so a mixed batch (a
    // config change, a compaction, a different trigger) was folded into
    // one emission under an arbitrary bno
    import graft.ops.StreamingGate.{deleteFsm, D23ClusterState, D23Mem, Tomb}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val seeded = D23ClusterState(Seq(D23Mem(4L, 10L), D23Mem(5L, 9L), D23Mem(17L, 8L)))
    val st = TestGroupState.create[D23ClusterState](
      org.apache.spark.api.java.Optional.of(seeded),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val mixed = Iterator(Tomb(4L, 4L, 0L), Tomb(4L, 17L, 1L))
    val e = intercept[IllegalStateException] { deleteFsm(4L, mixed, st) }
    assert(e.getMessage.contains("mixed-parity"))
    assert(st.get == seeded)
  }

  test("d28 FSM: a mixed-parity micro-batch fails loudly, state untouched") {
    import graft.ops.StreamingGate.{semDeleteFsm, D28Edge, D28State, Tomb}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val seeded = D28State(Seq(9L, 10L, 43L), Seq(D28Edge(9L, 43L), D28Edge(10L, 43L)))
    val st = TestGroupState.create[D28State](
      org.apache.spark.api.java.Optional.of(seeded),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val mixed = Iterator(Tomb(9L, 43L, 1L), Tomb(9L, 10L, 0L))
    val e = intercept[IllegalStateException] { semDeleteFsm(9L, mixed, st) }
    assert(e.getMessage.contains("mixed-parity"))
    assert(st.get == seeded)
  }

  test("d28 streaming semantic deletes: per-batch repair, converges to d27, RocksDB agrees") {
    val dir = "/root/testdata/sf0.001"
    def runWith(p: Option[String]): Seq[(Long, Long, Long, Long, Boolean)] =
      graft.ops.StreamingGate.semanticDeleteStream(spark, dir, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4))).sorted.toSeq
    val out = runWith(None)
    assert(out.nonEmpty, "tombstone batches touched no semantic cluster")
    // no emitted member row is itself a tombstoned vector; sentinels are
    // exactly the (-1, -1, false) shape; labels are min-ids (label <= member)
    out.foreach { case (bno, oc, vid, nc, pruned) =>
      if (vid == -1L) assert(nc == -1L && !pruned, s"bad sentinel for $oc")
      else {
        // a member deleted in a LATER batch is legitimately still a
        // survivor now — only vectors whose tombstone batch has already
        // fired must be gone
        assert(!(vid % 13 == 4 && vid % 2 <= bno),
          s"cluster $oc batch $bno emitted already-deleted vector $vid")
        assert(nc <= vid, s"cluster $oc: label $nc > member $vid (not a min-label)")
        assert(pruned == (nc != vid))
      }
    }
    // a cluster touched in BOTH batches emits twice with shrinking or
    // equal surviving membership (strictly fewer members than batch 0
    // only if batch 1 deleted one — batch 1 always deletes >= 1 member
    // of a touched cluster, so strict shrink or vanish)
    val byCluster = out.groupBy(_._2)
    byCluster.values.filter(_.map(_._1).distinct.size == 2).foreach { rows =>
      val b0 = rows.filter(_._1 == 0L).count(_._3 != -1L)
      val b1 = rows.filter(_._1 == 1L).count(_._3 != -1L)
      assert(b1 < b0 || (b1 == 0 && rows.exists(r => r._1 == 1L && r._3 == -1L)),
        s"cluster ${rows.head._2}: batch-1 membership did not shrink ($b0 -> $b1)")
    }
    // the FINAL emitted repair per cluster equals d27's batch delta
    // relabel for that cluster (the streaming path converges to the
    // batch truth — same stored edges, same min-label semantics)
    val d27 = SparkEntry.queries("d27_semantic_delete_propagation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    byCluster.foreach { case (oc, rows) =>
      val lastB = rows.map(_._1).max
      rows.filter(_._1 == lastB).foreach { case (_, _, vid, nc, _) =>
        if (vid != -1L)
          assert(d27.get((oc, vid)).contains(nc),
            s"cluster $oc member $vid: streaming label $nc != d27 ${d27.get((oc, vid))}")
        else
          assert(d27.get((oc, -1L)).contains(-1L),
            s"cluster $oc retired in-stream but has no d27 vanish row")
      }
    }
    // same pipeline with state in RocksDB: identical emission set
    assert(runWith(Some(graft.streaming.StateStores.RocksDB)) == out)
  }

  test("m07 streaming perceptual near-dup: cross-batch, Hamming-verified; RocksDB agrees") {
    // q58's bucket-registry contract on the image key: owners claim in
    // batch 0 (even doc_ids), hits are later-batch collisions only, and
    // every emitted pair must ALSO pass the full-hash Hamming verify —
    // banding recall with in-state precision.
    val dir = "/root/testdata/sf0.001"
    def runWith(p: Option[String]): Seq[(Long, Long, Long)] =
      graft.ops.MultimodalOps.perceptualStream(spark, dir, p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val hits = runWith(None)
    assert(hits.nonEmpty, "no cross-batch perceptual collisions at sf0.001")
    hits.foreach { case (bi, owner, dup) =>
      assert(bi >= 0 && bi < graft.ops.MultimodalOps.m06Bands)
      assert(owner % 2 == 0, s"owner $owner not from batch 0")
      assert(dup % 2 == 1, s"dup $dup not from batch 1")
    }
    // the Hamming bound actually holds on the emitted pairs: recompute
    // both hashes batch-side and check every pair is within m06MaxHam
    import spark.implicits._
    val media = graft.ops.Q.table(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("payload"), $"source")
    val hashes = graft.ops.MultimodalOps.perceptualHash(spark, media)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.foreach { case (_, owner, dup) =>
      val ham = hashes(owner).zip(hashes(dup)).count { case (a, b) => a != b }
      assert(ham <= graft.ops.MultimodalOps.m06MaxHam,
        s"pair ($owner, $dup) emitted at Hamming $ham")
    }
    // same pipeline with state in RocksDB: identical hit set
    assert(runWith(Some(graft.streaming.StateStores.RocksDB)) == hits)
  }

  test("q64 over events with no purchase rows: 0 rows with q64's columns") {
    val src = "/root/testdata/sf0.001"
    val dir = graft.ops.StreamingGate.tempDir("graft-q64-empty")
    graft.ops.Q.table(spark, src, "events").where($"event_type" =!= "purchase")
      .write.parquet(dir.resolve("events.parquet").toString)
    graft.ops.Q.table(spark, src, "customer")
      .write.parquet(dir.resolve("customer.parquet").toString)
    val out = graft.ops.StreamingGate.q64.run(spark, dir.toString)
    assert(out.columns.toSeq ==
      Seq("event_id", "user_id", "value", "c_nationkey", "c_mktsegment"))
    assert(out.count() == 0)
  }

  test("q58 bucket TTL: an expired bucket re-admits its key as a fresh owner (RocksDB restart)") {
    // The bounded-state dial on the arrival clock: a row's event time is
    // its file's mtime, set here. Run 1 (TTL 30 s) lets doc 1's buckets
    // expire once doc 99 arrives 60 s later; run 2 restarts the SAME
    // checkpoint with a 24 h TTL — doc 2 must re-register the expired
    // buckets as the NEW owner, proven by doc 3's hits naming owner 2,
    // not 1. Texts are fixed and the MinHash pipeline is deterministic,
    // and expiry depends only on the mtimes, so nothing here waits on a
    // wall clock.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import graft.ops.StreamingGate.tempDir
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val inDir = tempDir("graft-ttl-in")
    val dir = tempDir("graft-ttl")
    val t0 = System.currentTimeMillis()
    val textT = "the quick brown fox jumps over the lazy dog again and again"
    val textU = "completely different content describing distributed state stores"
    def writeFile(name: String, rows: Seq[(Long, String)], arrivalS: Long): Unit = {
      val tmp = tempDir("graft-ttl-b")
      spark.createDataFrame(rows).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val st = Files.list(tmp)
      val part = try st.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get() finally st.close()
      val dest = inDir.resolve(name)
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + arrivalS * 1000L))
    }
    val bands = graft.ops.DedupOps.minhashBands.toLong
    val reg = new graft.runtime.Registry
    val acc = reg.sparkCounter(spark, "q58_bucket_registry_size")
    def live: Long = reg.readings()("accum.q58_bucket_registry_size")
    val rocks = Some(graft.streaming.StateStores.RocksDB)
    // run 1 (TTL 30 s): doc 1 (arrives at 0 s, deadline 30 s) and doc 99
    // (60 s, deadline 90 s) claim their buckets; doc 99's arrival moves
    // the watermark to 60 s, which evicts every bucket of doc 1
    writeFile("0_a.parquet", Seq((1L, textT)), 0)
    writeFile("1_b.parquet", Seq((99L, textU)), 60)
    val r1 = graft.ops.StreamingGate.neardupHits(
      spark, inDir, sch, rocks, Some(30000L), Some(acc), dir)
    assert(r1.count() == 0, "no collisions exist in run 1; hits mean a bug")
    assert(live == bands,
      s"$live buckets live after run 1; want doc 99's $bands (doc 1's evicted)")
    // run 2 (same checkpoint, TTL 24 h): doc 2 (120 s) re-registers T's
    // expired buckets, doc 3 (180 s) collides with the NEW owner in every
    // band, and doc 99's buckets expire (deadline 90 s < watermark 120 s)
    writeFile("2_c.parquet", Seq((2L, textT)), 120)
    writeFile("3_d.parquet", Seq((3L, textT)), 180)
    val hits = graft.ops.StreamingGate.neardupHits(
        spark, inDir, sch, rocks, Some(86400000L), Some(acc), dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hits.map(_._1).sorted == (0L until bands),
      s"doc 3 must hit once per band: $hits")
    hits.foreach { case (_, owner, dup) =>
      assert(owner == 2L, s"owner $owner — expired bucket did NOT re-admit doc 2")
      assert(dup == 3L, s"unexpected dup $dup")
    }
    // live-bucket telemetry (SURVEY §2.1 #24): doc 2's re-registered
    // buckets are the only live ones after both runs' evictions
    assert(live == bands, s"bucket count $live — register/evict accounting drifted")
  }

  test("RocksDB provider is genuinely engaged (progress metrics prove it)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Long]
    graft.streaming.StateStores.withProvider(
      spark, Some(graft.streaming.StateStores.RocksDB)) {
      val q = mem.toDF().toDF("event_id").dropDuplicates("event_id")
        .writeStream.outputMode("append").format("memory")
        .queryName("rocks_dedup").start()
      try {
        mem.addData(1L, 2L, 2L, 3L)
        q.processAllAvailable()
        // state operator metrics carry rocksdb* keys only under RocksDB
        val metrics = q.lastProgress.stateOperators.flatMap(
          _.customMetrics.keySet.toArray.map(_.toString))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb metrics in ${metrics.toSeq}")
      } finally q.stop()
    }
  }

  test("ForeachWriter lifecycle mirrors Worker bootstrap/execute/teardown (framework.rs:90-135)") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(1L to 5L)
    val q = mem.toDS().writeStream.outputMode("append")
      .foreach(new org.apache.spark.sql.ForeachWriter[Long] {
        // open = bootstrap, process = execute, close = teardown
        override def open(partitionId: Long, epochId: Long): Boolean = {
          ForeachProbe.opens.incrementAndGet(); true
        }
        override def process(value: Long): Unit =
          ForeachProbe.processed.incrementAndGet()
        override def close(errorOrNull: Throwable): Unit =
          ForeachProbe.closes.incrementAndGet()
      }).start()
    q.processAllAvailable()
    q.stop()
    assert(ForeachProbe.processed.get() == 5)
    assert(ForeachProbe.opens.get() > 0)
    assert(ForeachProbe.closes.get() == ForeachProbe.opens.get())
  }

  test("source throttling bounds micro-batch size (maxFilesPerTrigger = backpressure)") {
    val dir = graft.ops.StreamingGate.tempDir("graft-throttle").toString
    val nation = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "nation")
    nation.coalesce(1).write.mode("append").parquet(dir)
    nation.coalesce(1).write.mode("append").parquet(dir)
    val q = spark.readStream.schema(nation.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("throttled").start()
    q.processAllAvailable()
    val nonEmptyBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(spark.table("throttled").head().getLong(0) == 50)
    assert(nonEmptyBatches >= 2, s"expected >=2 throttled batches, got $nonEmptyBatches")
  }

  test("checkpoint recovery: restarted query resumes offsets, no duplicates") {
    val src = graft.ops.StreamingGate.tempDir("graft-ckpt-src").toString
    val ckpt = graft.ops.StreamingGate.tempDir("graft-ckpt").toString
    val out = graft.ops.StreamingGate.tempDir("graft-ckpt-out").toString
    val nation = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "nation")

    def start() = spark.readStream.schema(nation.schema).parquet(src)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    nation.coalesce(1).write.mode("append").parquet(src)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() == 25)

    // restart from the same checkpoint; only NEW files are processed
    nation.coalesce(1).write.mode("append").parquet(src)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(out).count() == 50) // 25 would mean lost, 75 duplicated
  }

  test("daemon supervises mixed batch pipeline + streaming query (daemon.rs:36-43)") {
    import graft.pipeline._
    import graft.daemon.Daemon
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(1L to 5L)
    val streamTether = StreamSupervisor.spawn("mixed-stream") { () =>
      mem.toDS().writeStream.outputMode("append")
        .format("memory").queryName("mixed_sink").start()
    }
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val batchTether = Pipeline
      .from(Source[Long]("r", s => s.range(0, 3).as[Long]))
      .to(SinkStage[Long]("buf", ds => ds.collect().foreach(buf.add)))
      .spawn(spark)
    // batch pipeline ends -> daemon stops the (infinite) streaming stage too
    new Daemon(Seq(streamTether, batchTether), pollEvery = 20.millis).block()
    assert(batchTether.currentPhase == StagePhase.Ended)
    assert(streamTether.currentPhase == StagePhase.Ended)
    assert(buf.size() == 3)
  }

  test("StreamPipeline: DSL flows over an unbounded source, supervised") {
    import graft.pipeline.Flow
    import graft.streaming.StreamPipeline
    val tether = StreamPipeline
      .from(StreamPipeline.StreamSource("gen",
        s => s.readStream.format("graft-gen")
          .option("rows", "50").option("rowsPerBatch", "25").load()))
      .via(Flow[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("evens",
        _.filter(col("id") % 2 === 0)))
      .via(Flow[org.apache.spark.sql.Row, org.apache.spark.sql.Row]("project",
        _.select(col("id"), col("key"))))
      .spawn(spark)(_.outputMode("append").format("memory")
        .queryName("dsl_stream").start())
    val deadline = System.nanoTime() + 60.seconds.toNanos
    def rows() = if (!spark.catalog.tableExists("dsl_stream")) -1L
      else spark.table("dsl_stream").count()
    while (rows() < 25 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(rows() == 25) // 0,2,...,48
    tether.dismiss()
    assert(tether.waitEnded(30.seconds))
  }

  test("per-edge capacity bounds in-flight rows per micro-batch (messaging.rs:384-391)") {
    import graft.pipeline.Flow
    import graft.streaming.StreamPipeline
    import org.apache.spark.sql.Row
    // saturated source: all 120 rows available from the first trigger —
    // only the declared edge capacities keep batches bounded
    val src = StreamPipeline.StreamSource("gen-capped",
      s => s.readStream.format("graft-gen").option("rows", "120").load(),
      openThrottled = Some((s, cap) => s.readStream.format("graft-gen")
        .option("rows", "120").option("rowsPerBatch", cap.toString).load()))
    val tether = StreamPipeline.from(src)
      .via(Flow[Row, Row]("wide", _.select(col("id"), col("key"))), 40)
      .via(Flow[Row, Row]("narrow", _.select(col("id"))), 25) // min of the edges wins
      .spawn(spark)(_.outputMode("append").format("memory")
        .queryName("capped_stream").start())
    val deadline = System.nanoTime() + 60.seconds.toNanos
    def rows() = if (!spark.catalog.tableExists("capped_stream")) -1L
      else spark.table("capped_stream").count()
    while (rows() < 120 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(rows() == 120, "throttling must bound batches, never drop rows")
    val q = spark.streams.active.find(q => q.name == "capped_stream")
    assert(q.isDefined)
    val sizes = q.get.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.nonEmpty && sizes.max <= 25,
      s"in-flight batch exceeded the min edge capacity: ${sizes.mkString(",")}")
    assert(sizes.length >= 5, s"120 rows at cap 25 needs >=5 batches, got ${sizes.length}")
    tether.dismiss()
    assert(tether.waitEnded(30.seconds))
  }

  test("capacity on an unthrottleable source is a build-time wiring error") {
    import graft.pipeline.{Flow, Pipeline, Source}
    val b = Pipeline
      .from(Source[Long]("range", s => s.range(0, 10).as[Long]))
      .via(Flow.map("id")((x: Long) => x), edgeCapacity = 5)
    assertThrows[IllegalStateException](b.dataFrame(spark))
  }

  test("Trigger.AvailableNow drains a bounded source and terminates itself") {
    val dir = graft.ops.StreamingGate.tempDir("graft-avnow").toString
    val nation = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "nation")
    nation.write.mode("append").parquet(dir)
    val q = spark.readStream.schema(nation.schema).parquet(dir)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow query should self-terminate")
    assert(spark.table("avnow").head().getLong(0) == 25)
  }

  test("processing-time tick source (TimerPort analogue, messaging.rs:151-209)") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .writeStream.outputMode("append").format("memory").queryName("ticks").start()
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (spark.table("ticks").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    q.stop()
    assert(spark.table("ticks").count() > 0)
    assert(spark.table("ticks").columns.toSet == Set("timestamp", "value"))
  }

  test("s11 streaming KNN: both micro-batches emit, union == the s03 batch result") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExecBase
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val d = "/root/testdata/sf0.001"
    // the micro-batch executions: foreachBatch runs in the stream's clone
    // of the session, whose listener manager copies this one's at start
    val batchPlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.sparkSession ne spark) batchPlans.add(qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out =
      try SparkEntry.queries("s11_streaming_knn")(spark, d).cache()
      finally {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    try {
      // the per-batch search is the batch row's IVF vocabulary: the probe
      // lists come from nearest_centroids, and no window ranks centroids
      // per vec_id (the cross-join spelling's N·K exchange)
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case _ => p +: p.children.flatMap(walk)
      }
      val nodes = batchPlans.asScala.toSeq.flatMap(walk)
      assert(nodes.nonEmpty, "no micro-batch execution was seen")
      val byVec = nodes.collect { case w: WindowExecBase => w }
        .filter(_.partitionSpec.exists {
          case a: AttributeReference => a.name == "vec_id"
          case _ => false
        })
      assert(byVec.isEmpty,
        s"s11 ranks per vec_id in a window: ${byVec.map(_.simpleStringWithNodeId())}")
      val kernels = nodes.flatMap(_.expressions).map(_.collect {
        case c: graft.functions.NearestCentroids => c
      }.size).sum
      assert(kernels > 0, "s11's micro-batches assign without nearest_centroids")
      // queries are parity-split across the two staged batches — results
      // from BOTH parities prove the stream really ran multi-batch
      val parities = out.select(expr("(query_id div 100) % 2").as("p"))
        .distinct().count()
      assert(parities == 2, "a parity batch emitted no results")
      // and the emitted set is exactly the batch operator's
      val batch = SparkEntry.queries("s03_knn_ivf")(spark, d)
      assert(out.except(batch).isEmpty && batch.except(out).isEmpty,
        "streaming KNN diverged from the batch result")
    } finally out.unpersist()
  }
}
