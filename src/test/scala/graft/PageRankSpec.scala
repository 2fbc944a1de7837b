package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q69 source-reputation PageRank: exact fixed-point semantics on a
  * hand-computed fixture, the hot-chunk cap, and the conservation /
  * teleport-floor invariants of the constant-teleport power iteration. */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 8-token chunk of globally-unique filler. */
  private def filler(tag: String): String =
    (0 until 8).map(i => s"u$tag$i").mkString(" ")

  private def plant(rows: Seq[(Long, String, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-q69").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("hand-computed exact ranks: one sharing pair + one isolated source") {
    // srcA and srcB share exactly ONE 8-token chunk; srcC is isolated.
    // n=3, S=10^12: r0 = 333333333333 each, teleport base = 50000000000.
    // A and B each have one out-edge with pw = 10^6 (all weight to the
    // other), so each iteration r(A) = base + (r(B)*85 div 100) and
    // symmetrically — a fixed point at 333333333333 (exact: 333333333333*85
    // div 100 = 283333333333, + 5e10 = 333333333333). C keeps teleport only.
    val shared = (0 until 8).map(i => s"sh$i").mkString(" ")
    val tmp = plant(Seq(
      (1L, shared, "srcA"),
      (2L, shared, "srcB"),
      (3L, filler("c"), "srcC")))
    val got = SparkEntry.queries("q69_source_pagerank")(spark, tmp)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("srcA") == ((333333333333L, 0.333333333333, 1L, 1L)))
    assert(got("srcB") == ((333333333333L, 0.333333333333, 1L, 1L)))
    assert(got("srcC") == ((50000000000L, 0.05, 0L, 0L)))
  }

  test("reputation ordering: widely-shared source outranks a pairwise one") {
    // srcHub shares a DISTINCT chunk with each of 3 spokes; srcE/srcF share
    // one chunk only with each other. The hub accumulates mass from three
    // in-edges and must outrank both members of the isolated pair.
    def doc(id: Long, text: String, src: String) = (id, text, src)
    val hubChunks = (0 until 3).map(k => (0 until 8).map(i => s"hub${k}t$i").mkString(" "))
    val ef = (0 until 8).map(i => s"ef$i").mkString(" ")
    val rows = Seq(
      doc(1L, hubChunks.mkString(" "), "srcHub"),
      doc(2L, hubChunks(0) + " " + filler("s0"), "srcS0"),
      doc(3L, hubChunks(1) + " " + filler("s1"), "srcS1"),
      doc(4L, hubChunks(2) + " " + filler("s2"), "srcS2"),
      doc(5L, ef, "srcE"),
      doc(6L, ef, "srcF"))
    val got = SparkEntry.queries("q69_source_pagerank")(spark, plant(rows))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("srcHub") > got("srcE") && got("srcHub") > got("srcF"),
      s"hub must outrank the isolated pair: $got")
    assert(got("srcHub") > got("srcS0"), "hub outranks a single spoke")
  }

  test("hot-chunk cap drops viral chunks from the edge build") {
    // one chunk shared by ALL 4 sources (viral), one shared by exactly 2
    val viral = (0 until 8).map(i => s"v$i").mkString(" ")
    val pair = (0 until 8).map(i => s"p$i").mkString(" ")
    val rows = Seq(
      (1L, viral + " " + pair, "s1"), (2L, viral + " " + pair, "s2"),
      (3L, viral, "s3"), (4L, viral, "s4"))
    val tmp = plant(rows)
    val uncapped = graft.ops.CurationOps.pagerankEdges(spark, tmp, 256)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(uncapped.size == 12, "4 sources fully connected via the viral chunk")
    assert(uncapped(("s1", "s2")) == 2L, "pair chunk adds weight on the s1-s2 edge")
    val capped = graft.ops.CurationOps.pagerankEdges(spark, tmp, 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(capped == Map(("s1", "s2") -> 1L, ("s2", "s1") -> 1L),
      s"cap=2 keeps only the pairwise chunk: $capped")
  }

  test("invariants on the real corpus: mass bound, teleport floor, determinism") {
    val d = "/root/testdata/sf0.001"
    val run1 = SparkEntry.queries("q69_source_pagerank")(spark, d).collect()
    val n = run1.length.toLong
    val total = run1.map(_.getLong(1)).sum
    // integer-division dust + dangling loss only ever SHRINK total mass
    assert(total <= 1000000000000L, s"mass grew: $total")
    val base = 150000000000L / n
    assert(run1.forall(_.getLong(1) >= base), "every source keeps teleport mass")
    // sf0.001 has cross-source duplication: the graph must be non-trivial
    assert(run1.exists(_.getLong(3) > 0), "at least one source has out-edges")
    val run2 = SparkEntry.queries("q69_source_pagerank")(spark, d).collect()
    assert(run1.map(_.toString).sorted.sameElements(run2.map(_.toString).sorted),
      "re-run must be bit-identical")
  }
}
