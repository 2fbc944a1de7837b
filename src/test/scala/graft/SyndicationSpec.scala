package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q72 syndication matrix: planted cross-source and within-source copies
  * land in the right cells with exact counts, the matrix triangle is
  * normalized, and the cells sum to d02's verified pair count. */
class SyndicationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, String, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-q72").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("planted copies: cross-source and diagonal cells exact") {
    val copied = (0 until 30).map(i => s"c$i").mkString(" ")
    val selfrep = (0 until 30).map(i => s"s$i").mkString(" ")
    val tmp = plant(Seq(
      (1L, copied, "srcA"),   // srcA <-> srcB syndication (two copies in B)
      (2L, copied, "srcB"),
      (3L, copied, "srcB"),   // also a srcB self-duplicate vs doc 2
      (4L, selfrep, "srcC"),  // srcC re-publishes itself
      (5L, selfrep, "srcC"),
      (6L, (0 until 30).map(i => s"u$i").mkString(" "), "srcD")))
    val got = SparkEntry.queries("q72_syndication_matrix")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got == Set(
      ("srcA", "srcB", 2L, true),   // pairs (1,2) and (1,3)
      ("srcB", "srcB", 1L, false),  // pair (2,3)
      ("srcC", "srcC", 1L, false)), // pair (4,5)
      s"got $got")
  }

  test("gate corpus: triangle normalized, cells sum to d02's pair count") {
    val dir = "/root/testdata/sf0.001"
    val cells = SparkEntry.queries("q72_syndication_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(cells.nonEmpty)
    for ((lo, hi, n, cross) <- cells) {
      assert(lo <= hi, s"cell ($lo,$hi) not triangle-normalized")
      assert(cross == (lo != hi))
      assert(n >= 1)
    }
    assert(cells.map(t => (t._1, t._2)).distinct.length == cells.length)
    val total = cells.map(_._3).sum
    val pairs = SparkEntry.queries("d02_minhash_lsh")(spark, dir).count()
    assert(total == pairs, s"matrix sums to $total but d02 has $pairs pairs")
    info(s"q72 at sf0.001: ${cells.length} cells over $total pairs, " +
      s"${cells.count(_._4)} cross-source")
  }
}
