package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.ops.DedupOps

/** [[DedupOps.minLabelComponents]] on both of its paths against a
  * driver-side BFS: on random symmetric graphs (chains long enough for
  * several unrolled rounds, stars, isolated pairs, duplicate edges and
  * self-loops, over ids near both ends of `Long` and around zero), the
  * one-task union-find labels, the round-loop labels (forced by a tiny
  * per-partition edge bound) and the reference agree, whatever the
  * partition count of the input frame. */
object ComponentsSpec extends Properties("Components") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val genId: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-1000L, 1000L),
    1 -> Gen.choose(Long.MaxValue - 1000L, Long.MaxValue),
    1 -> Gen.choose(Long.MinValue, Long.MinValue + 1000L))

  /** Undirected edges over fresh ids: one chain past 4 × `ccUnroll` hops
    * whose smallest id sits at one end (so its label crosses the whole
    * chain), then random chains, stars and pairs. */
  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    nodes <- Gen.containerOfN[Set, Long](400, genId).map(_.toVector)
    shapes <- Gen.listOf(Gen.zip(Gen.oneOf("chain", "star", "pair"), Gen.choose(2, 40)))
    ids <- Gen.pick(nodes.size, nodes).map(_.toVector)
  } yield {
    val longChain = ids.take(40).sorted.reverse
    var rest = ids.drop(40)
    val shaped = shapes.flatMap { case (kind, size) =>
      val (vs, tail) = rest.splitAt(size)
      rest = tail
      if (vs.size < 2) Nil
      else kind match {
        case "chain" => vs.zip(vs.tail)
        case "star" => vs.tail.map(vs.head -> _)
        case _ => Seq(vs(0) -> vs(1))
      }
    }
    longChain.zip(longChain.tail) ++ shaped
  }

  /** Both directions of every edge, some edges twice, some self-loops. */
  private def symmetric(g: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val both = g.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    both ++ both.grouped(7).map(_.head) ++ g.take(3).map { case (a, _) => a -> a }
  }

  /** Min-reachable id of every `doc_a`, by BFS on the driver. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupMap(_._1)(_._2)
    val out = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys if !out.contains(start)) {
      val seen = scala.collection.mutable.Set(start)
      var frontier = List(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filter(seen.add)
      }
      val label = seen.min
      seen.foreach(out(_) = label)
    }
    out.toMap
  }

  /** Labels and the number of partitions they came back in. */
  private def solve(edges: Seq[(Long, Long)], parts: Int, edgesPerPart: Long)
      : (Map[Long, Long], Int) = {
    val s = spark
    import s.implicits._
    val frame = s.sparkContext.parallelize(edges, parts).toDF("doc_a", "doc_b")
    val labels = DedupOps.minLabelComponents(s, frame, edgesPerPart)
    try (labels.as[(Long, Long)].collect().toMap, labels.rdd.getNumPartitions)
    finally graft.ops.Q.releaseCheckpointBlocks(labels, blocking = true)
  }

  property("one-task and round-loop labels equal a BFS at 1, 3 and 8 input partitions") =
    forAllNoShrink(genGraph) { g =>
      val edges = symmetric(g)
      val want = reference(edges)
      val checks = for (parts <- Seq(1, 3, 8); bound <- Seq(4000000L, 4L)) yield {
        val (got, outParts) = solve(edges, parts, bound)
        // one input partition always solves in one task; a tiny bound
        // over more input partitions must take the round loop
        val wantParts = if (bound == 4L) parts else 1
        Prop(got == want) :| s"$parts partitions, bound $bound: labels differ" &&
          Prop(outParts == wantParts) :| s"$parts partitions, bound $bound: $outParts output partitions"
      }
      checks.reduce(_ && _)
    }

  property("no edges, no labels") = Prop {
    solve(Nil, 1, 4000000L)._1.isEmpty
  }

  property("the kernel fails loudly on an edge endpoint that is not a node") = Prop {
    Prop.throws(classOf[IllegalArgumentException]) {
      DedupOps.unionMin(Array(1L, 2L), Array(1L), Array(3L))
    }
  }
}
