package graft.pipeline

import graft.ops.Q
import graft.runtime.{Policy, StageRuntime, Tether, Worker, WorkSchedule}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Typed pipeline DSL — the Spark-native re-expression of gasket's stage/
  * port model (SURVEY.md §2.1 #1-16):
  *
  *  - [[Source]]/[[Flow]]/[[SinkStage]] = stages with typed hand-offs
  *    (`Message<T>` channels, `/root/reference/gasket/src/messaging.rs:5-8`,
  *    become `Dataset[T]` lineage edges — Spark's pull-based iterators and
  *    exchanges replace bounded channels and their backpressure);
  *  - `via` = `connect_ports` (`messaging.rs:404-411`), checked at build
  *    time by the type system instead of a runtime NotConnected error;
  *  - [[Pipeline.funnel]] = `funnel_ports` N→1 fan-in (`messaging.rs:413-423`)
  *    as UNION ALL (multiset, order-free — matching mpsc interleaving
  *    nondeterminism);
  *  - [[PipelineBuilder.tee]] = `Fanout`/`broadcast_port` 1→N
  *    (`messaging.rs:71-95,425-436`): the upstream is checkpointed once and
  *    every sink consumes it; zero sinks fails at build time (the reference's
  *    `Error::NotConnected`, `messaging.rs:84`);
  *  - [[Flow.map]]/[[Flow.split]]/[[Flow.mapOpt]] = `impl_mapper!`,
  *    `impl_splitter!` (`macros.rs:1-85`) and `OutputMap`
  *    (`messaging.rs:255-274`).
  *
  * Chained flows FUSE into one Spark query (whole-stage codegen), unlike
  * the reference's thread-per-stage execution — per SURVEY.md §7.3 fusion
  * is the default; independent supervision applies per pipeline, not per
  * flow.
  */
/** @param openThrottled capacity-aware variant of `open` for unbounded
  *                       sources: invoked instead of `open` when the
  *                       pipeline declares a per-edge capacity (the
  *                       reference's bounded channels, `messaging.rs:
  *                       384-391`). The Long is the resolved in-flight
  *                       bound (rows per micro-batch) — map it to the
  *                       source's admission knob (`maxFilesPerTrigger`,
  *                       `maxOffsetsPerTrigger`, graft-gen's
  *                       `rowsPerBatch`, ...). */
final case class Source[O](
    name: String,
    open: SparkSession => Dataset[O],
    openThrottled: Option[(SparkSession, Long) => Dataset[O]] = None)

final case class Flow[I, O](name: String, apply: Dataset[I] => Dataset[O]) {
  def andThen[N](next: Flow[O, N]): Flow[I, N] =
    Flow(s"$name->${next.name}", ds => next.apply(apply(ds)))
}

object Flow {
  /** `impl_mapper!` — one-in/one-out projection (`macros.rs:1-41`). */
  def map[I, O: Encoder](name: String)(f: I => O): Flow[I, O] =
    Flow(name, _.map(f))

  /** `impl_splitter!` — one-in/N-out generator (`macros.rs:43-85`). */
  def split[I, O: Encoder](name: String)(f: I => IterableOnce[O]): Flow[I, O] =
    Flow(name, _.flatMap(f))

  /** `OutputMap` — fused map+filter, `None` drops (`messaging.rs:255-274`). */
  def mapOpt[I, O: Encoder](name: String)(f: I => Option[O]): Flow[I, O] =
    Flow(name, _.flatMap(i => f(i)))

  def filter[I](name: String)(p: I => Boolean): Flow[I, I] =
    Flow(name, _.filter(p))
}

final case class SinkStage[I](name: String, write: Dataset[I] => Unit)

object SinkStage {
  /** In-memory terminal buffer with an optional cap that DROPS NEWEST
    * rows beyond it — the reference `SinkAdapter`'s exact semantics
    * (`messaging.rs:211-253`: push_back then pop_back when over cap).
    * Returns the sink and a drain function. */
  def cappedBuffer[I](cap: Option[Int] = None): (SinkStage[I], () => Seq[I]) = {
    import scala.jdk.CollectionConverters._
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[I]()
    val sink = SinkStage[I]("capped-buffer", { ds =>
      // drop-newest is applied inside the engine: a capped sink pulls at
      // most `cap - buffered` rows (ds.limit), so driver memory is bounded
      // by the cap no matter how large the dataset; an uncapped sink
      // streams partitions through toLocalIterator instead of collect(),
      // holding one partition at a time
      // re-check remaining room per row while draining: two concurrent
      // write() calls into one shared sink each computing room up front
      // could overshoot the cap by up to cap rows (check-then-act); the
      // limit() still bounds what the engine SHIPS, the per-row check
      // bounds what the buffer KEEPS (overshoot ≤ 1 row per writer, the
      // same bound as the reference's push-then-pop, messaging.rs:211-253)
      cap match {
        case Some(c) =>
          val room = c - buf.size()
          if (room > 0)
            ds.limit(room).toLocalIterator().asScala
              .takeWhile(_ => buf.size() < c).foreach(buf.add)
        case None => ds.toLocalIterator().asScala.foreach(buf.add)
      }
    })
    (sink, () => buf.asScala.toSeq)
  }
}

/** @param shareable a broadcast edge (produced by [[materialize]]): may be
  *                   consumed by any number of downstream chains, each
  *                   reading the one checkpointed upstream computation. Plain
  *                   edges are consume-ONCE — the reference panics when a
  *                   non-broadcast receiver is cloned (`messaging.rs:
  *                   358-377`); here a second consume of a plain edge
  *                   would silently recompute the whole upstream, so it
  *                   fails at build time instead. */
final class PipelineBuilder[O] private[pipeline] (
    source: Source[_],
    build: (SparkSession, Option[Long]) => Dataset[O],
    shareable: Boolean = false,
    capacity: Option[Long] = None) {

  private val consumed = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def claim(): Unit =
    if (!shareable && !consumed.compareAndSet(false, true))
      throw new IllegalStateException(
        s"pipeline '${source.name}': non-broadcast edge consumed twice — " +
          "every extra consumer would recompute the whole upstream. Call " +
          ".materialize first to make a shareable broadcast edge, or .tee " +
          "for multi-sink fan-out (reference panics on cloning a " +
          "non-broadcast receiver, messaging.rs:358-377)")

  private def open(s: SparkSession): Dataset[O] = build(s, capacity)

  def via[N](flow: Flow[O, N]): PipelineBuilder[N] = {
    claim()
    new PipelineBuilder[N](source, (s, c) => flow.apply(build(s, c)),
      capacity = capacity)
  }

  /** Capacity-bounded edge — the reference's bounded channels carry an
    * explicit per-edge capacity (`messaging.rs:384-391`). Chained flows
    * fuse into ONE Spark query, so the in-flight bound of the fused chain
    * is the MINIMUM declared capacity of its edges; it's applied at the
    * source as micro-batch admission control (rows per batch): Spark's
    * pull model already backpressures batch edges, and for unbounded
    * sources the admission bound is what caps state/memory per trigger. */
  def via[N](flow: Flow[O, N], edgeCapacity: Long): PipelineBuilder[N] = {
    require(edgeCapacity > 0, s"edge capacity must be positive: $edgeCapacity")
    claim()
    new PipelineBuilder[N](source, (s, c) => flow.apply(build(s, c)),
      capacity = Some(capacity.fold(edgeCapacity)(math.min(_, edgeCapacity))))
  }

  /** Probe terminal: the composed (unsunk) dataset — for embedding a DSL
    * pipeline inside a larger plan or the correctness gate. */
  def dataFrame(spark: SparkSession): Dataset[O] = { claim(); open(spark) }

  /** Materialized stage boundary (SURVEY.md §7.3): downstream consumers
    * share one computation of everything upstream instead of re-deriving
    * it — the engine's one barrier, [[Q.roundCheckpoint]], taken when the
    * first consumer opens the edge. This is the DSL's broadcast edge: the
    * returned builder may fan out to any number of consumers. */
  def materialize: PipelineBuilder[O] = {
    claim()
    // memoize the checkpoint so every consumer reads ONE leaf, not one
    // checkpoint per consumer. A memo entry bound to a STOPPED session is
    // rebuilt, not reused — a shareable builder can outlive a session
    // restart (same guard as Q.staged)
    val memo = new java.util.concurrent.ConcurrentHashMap[SparkSession, Dataset[O]]()
    new PipelineBuilder[O](source,
      (s, c) => memo.compute(s, (ss, prev) =>
        if (prev != null && !prev.sparkSession.sparkContext.isStopped) prev
        else checkpoint(build(ss, c))),
      shareable = true, capacity = capacity)
  }

  private def checkpoint(ds: Dataset[O]): Dataset[O] =
    Q.roundCheckpoint(ds.toDF()).as(ds.encoder)

  def to(sink: SinkStage[O]): Pipeline = {
    claim()
    new Pipeline(s"${source.name}=>${sink.name}",
      s => sink.write(open(s)))
  }

  /** Fan-out to several sinks: upstream computed once (checkpointed, its
    * blocks released when the last sink is done), every sink sees every
    * row — gasket broadcast-edge semantics. */
  def tee(sinks: SinkStage[O]*): Pipeline = {
    if (sinks.isEmpty)
      throw new IllegalArgumentException(
        s"pipeline '${source.name}': fan-out with no connected sinks " +
          "(reference Error::NotConnected, messaging.rs:84)")
    claim()
    new Pipeline(s"${source.name}=>tee", { s =>
      val ds = checkpoint(open(s))
      try sinks.foreach(_.write(ds))
      finally Q.releaseCheckpointBlocks(ds.toDF(), blocking = false)
    })
  }
}

/** A fully wired pipeline: run inline, or supervised under a [[Policy]]
  * on its own stage thread (retry/backoff/liveness via graft.runtime). */
final class Pipeline(val name: String, body: SparkSession => Unit) {

  def runSync(spark: SparkSession): Unit = body(spark)

  /** Supervised launch — the pipeline is one work unit; `workRetry`
    * governs whole-run retry (Spark already retries tasks internally). */
  def spawn(spark: SparkSession, policy: Policy = Policy()): Tether =
    StageRuntime.spawn(name, new Worker[Unit] {
      private var launched = false
      override def schedule(): WorkSchedule[Unit] =
        if (launched) WorkSchedule.Done else { launched = true; WorkSchedule.Unit(()) }
      override def execute(unit: Unit): Unit = body(spark)
    }, policy)
}

object Pipeline {
  /** Resolve a source against the pipeline's declared edge capacity: a
    * capacity on an edge of a source that exposes no admission knob is a
    * wiring error, surfaced at build time (the reference's channels
    * ALWAYS have a capacity — an unthrottleable source cannot honor one). */
  private def openResolved[O](src: Source[O], s: SparkSession, cap: Option[Long]): Dataset[O] =
    cap match {
      case Some(c) => src.openThrottled match {
        case Some(f) => f(s, c)
        case None => throw new IllegalStateException(
          s"pipeline '${src.name}': an edge declares capacity $c but the " +
            "source exposes no admission control — give the Source an " +
            "openThrottled variant (maxFilesPerTrigger / " +
            "maxOffsetsPerTrigger / rowsPerBatch)")
      }
      case None => src.open(s)
    }

  def from[O](source: Source[O]): PipelineBuilder[O] =
    new PipelineBuilder[O](source, (s, c) => openResolved(source, s, c))

  /** `funnel_ports` N→1 fan-in: UNION ALL of same-typed sources
    * (`messaging.rs:413-423`). A declared capacity bounds EACH input's
    * admission (the reference funnel receives from N bounded channels). */
  def funnel[O](name: String, sources: Source[O]*): PipelineBuilder[O] = {
    require(sources.nonEmpty, s"funnel '$name' has no inputs")
    new PipelineBuilder[O](Source(name, null),
      (s, c) => sources.map(openResolved(_, s, c)).reduce(_ unionByName _))
  }
}
