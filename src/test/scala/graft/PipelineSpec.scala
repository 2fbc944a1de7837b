package graft

import graft.pipeline._
import graft.runtime.StagePhase
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline DSL behavior — sequence-exact where ordering is defined,
  * multiset where fan-in interleaving is nondeterministic (the reference's
  * testing harness shape, `/root/reference/gasket/src/testing.rs:3-27`,
  * with the funnel-ordering caveat from FIXTURES.md §1). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def collectSink(buf: ConcurrentLinkedQueue[Long]) =
    SinkStage[Long]("collect", ds => ds.collect().foreach(buf.add))

  test("mapper stage: x => x*2 over 1..10 (macros.rs:1-41 fixture)") {
    val buf = new ConcurrentLinkedQueue[Long]()
    Pipeline.from(Source[Long]("range", s => s.range(1, 11).as[Long]))
      .via(Flow.map("double")((x: Long) => x * 2))
      .to(collectSink(buf))
      .runSync(spark)
    assert(buf.asScala.toSeq.sorted == (1 to 10).map(_ * 2L))
  }

  test("splitter stage: x => Seq.fill(x)(x) over 1..4 (macros.rs:43-85 fixture)") {
    val buf = new ConcurrentLinkedQueue[Long]()
    Pipeline.from(Source[Long]("range", s => s.range(1, 5).as[Long]))
      .via(Flow.split("fill")((x: Long) => Seq.fill(x.toInt)(x)))
      .to(collectSink(buf))
      .runSync(spark)
    assert(buf.asScala.toSeq.sorted ==
      Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L, 4L, 4L, 4L))
  }

  test("OutputMap: map+filter fused, None drops (messaging.rs:255-274)") {
    val buf = new ConcurrentLinkedQueue[Long]()
    Pipeline.from(Source[Long]("range", s => s.range(0, 10).as[Long]))
      .via(Flow.mapOpt("evens")((x: Long) => if (x % 2 == 0) Some(x * 10) else None))
      .to(collectSink(buf))
      .runSync(spark)
    assert(buf.asScala.toSeq.sorted == Seq(0L, 20L, 40L, 60L, 80L))
  }

  test("funnel: N->1 fan-in is UNION ALL multiset (messaging.rs:413-423)") {
    val buf = new ConcurrentLinkedQueue[Long]()
    val s1 = Source[Long]("a", s => s.range(0, 3).as[Long])
    val s2 = Source[Long]("b", s => s.range(0, 3).as[Long])
    Pipeline.funnel("fan-in", s1, s2).to(collectSink(buf)).runSync(spark)
    assert(buf.asScala.toSeq.sorted == Seq(0L, 0L, 1L, 1L, 2L, 2L))
  }

  test("tee: every sink sees every row; upstream computed once (messaging.rs:425-436)") {
    val b1 = new ConcurrentLinkedQueue[Long]()
    val b2 = new ConcurrentLinkedQueue[Long]()
    Pipeline.from(Source[Long]("range", s => s.range(0, 5).as[Long]))
      .tee(collectSink(b1), collectSink(b2))
      .runSync(spark)
    assert(b1.asScala.toSeq.sorted == (0L to 4L))
    assert(b2.asScala.toSeq.sorted == (0L to 4L))
  }

  test("tee with zero sinks fails at build time (NotConnected, messaging.rs:84)") {
    assertThrows[IllegalArgumentException] {
      Pipeline.from(Source[Long]("range", s => s.range(0, 5).as[Long])).tee()
    }
  }

  test("capped buffer sink drops NEWEST beyond cap (messaging.rs:224-229)") {
    val (sink, drain) = SinkStage.cappedBuffer[Long](cap = Some(3))
    Pipeline.from(Source[Long]("range", s => s.range(0, 10).orderBy($"id").coalesce(1).as[Long]))
      .to(sink)
      .runSync(spark)
    assert(drain().size == 3)
    graft.testing.Harness.assertSequence(drain().sorted, Seq(0L, 1L, 2L))
  }

  test("cappedBuffer never materializes more than the cap driver-side (limit pushed into the engine)") {
    // 1M rows through a cap of 5: the engine-side limit means at most 5
    // rows cross to the driver — a collect()-based sink would pull all 1M
    val (sink, drain) = SinkStage.cappedBuffer[Long](cap = Some(5))
    Pipeline.from(Source[Long]("big", s => s.range(0, 1000000).as[Long]))
      .to(sink)
      .runSync(spark)
    assert(drain().size == 5)
  }

  test("non-broadcast edge consumed twice fails at build time (messaging.rs:358-377)") {
    val b = Pipeline.from(Source[Long]("range", s => s.range(0, 5).as[Long]))
      .via(Flow.map("inc")((x: Long) => x + 1))
    b.to(collectSink(new ConcurrentLinkedQueue[Long]()))
    assertThrows[IllegalStateException] {
      b.to(collectSink(new ConcurrentLinkedQueue[Long]())) // second consume
    }
  }

  test("materialize creates a shareable broadcast edge: N consumers, upstream computed once") {
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    val shared = Pipeline.from(Source[Long]("counted", { s =>
      evals.incrementAndGet()
      s.range(0, 4).as[Long]
    })).materialize
    val b1 = new ConcurrentLinkedQueue[Long]()
    val b2 = new ConcurrentLinkedQueue[Long]()
    shared.via(Flow.map("x2")((x: Long) => x * 2)).to(collectSink(b1)).runSync(spark)
    shared.via(Flow.map("x3")((x: Long) => x * 3)).to(collectSink(b2)).runSync(spark)
    assert(b1.asScala.toSeq.sorted == Seq(0L, 2L, 4L, 6L))
    assert(b2.asScala.toSeq.sorted == Seq(0L, 3L, 6L, 9L))
    assert(evals.get() == 1, "broadcast edge must build its upstream exactly once")
  }

  test("materialize: two consumers of one edge evaluate each upstream row once") {
    // the open() count above is driver-side; this counts task-side row
    // evaluations upstream of the barrier — a consumer that re-derived
    // the upstream instead of reading the checkpoint would add 100 more
    val rows = spark.sparkContext.longAccumulator("materialize-upstream-rows")
    val shared = Pipeline.from(Source[Long]("range", s => s.range(0, 100).as[Long]))
      .via(Flow.map("counted")((x: Long) => { rows.add(1); x }))
      .materialize
    val b1 = new ConcurrentLinkedQueue[Long]()
    val b2 = new ConcurrentLinkedQueue[Long]()
    shared.via(Flow.map("x2")((x: Long) => x * 2)).to(collectSink(b1)).runSync(spark)
    shared.via(Flow.filter[Long]("even")(_ % 2 == 0)).to(collectSink(b2)).runSync(spark)
    assert(b1.asScala.toSeq.sorted == (0L until 100L).map(_ * 2))
    assert(b2.asScala.toSeq.sorted == (0L until 100L by 2L))
    assert(rows.value == 100L, s"upstream rows evaluated ${rows.value} times for 100 rows")
  }

  test("harness multiset assertion accepts reordered funnel output") {
    graft.testing.Harness.assertMultiset(Seq(2, 1, 1), Seq(1, 2, 1))
    assertThrows[IllegalArgumentException] {
      graft.testing.Harness.assertMultiset(Seq(1, 1), Seq(1, 2))
    }
  }

  test("supervised spawn: pipeline runs under the stage runtime") {
    val buf = new ConcurrentLinkedQueue[Long]()
    val t = Pipeline.from(Source[Long]("range", s => s.range(1, 4).as[Long]))
      .via(Flow.map("id")((x: Long) => x))
      .to(collectSink(buf))
      .spawn(spark)
    assert(t.waitEnded(scala.concurrent.duration.DurationInt(60).seconds))
    assert(t.currentPhase == StagePhase.Ended)
    assert(t.failureOption.isEmpty)
    assert(buf.asScala.toSeq.sorted == Seq(1L, 2L, 3L))
    assert(t.readMetrics()("counter.units_executed") == 1)
  }
}
