package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t20 memorized n-grams: planted cross-document repeats surface with
  * exact counts, intra-document-only repeats are excluded (that's d14's
  * territory), and the top-100 ordering/consistency invariants hold on
  * the gate corpus. */
class MemorizedNgramsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-t20").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("planted repeats: cross-doc chunks reported exactly, intra-doc excluded") {
    val boiler = (0 until 8).map(i => s"m$i").mkString(" ")   // one exact chunk
    val intra = (0 until 8).map(i => s"r$i").mkString(" ")
    val tmp = plant(Seq(
      (1L, boiler),                          // chunk 0 = boiler
      (2L, boiler),                          // same chunk, second doc
      (3L, boiler),                          // third doc
      (4L, intra + " " + intra),             // repeated INSIDE one doc only
      (5L, (0 until 8).map(i => s"u$i").mkString(" "))))  // unique
    val rows = SparkEntry.queries("t20_memorized_ngrams")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 1, s"expected only the boilerplate chunk, got ${rows.toSeq}")
    assert(rows.head == ((boiler, 3L, 3L)))
  }

  test("gate corpus: top-100 shape, ordering, and count consistency") {
    val rows = SparkEntry.queries("t20_memorized_ngrams")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "no cross-document chunk repeats in the gate corpus")
    assert(rows.length <= 100)
    assert(rows.map(_._1).distinct.length == rows.length)
    for ((chunk, occ, docs) <- rows) {
      assert(docs >= 2, s"single-doc chunk leaked: $chunk")
      assert(occ >= docs, s"occurrences < docs for $chunk")
    }
    for (Array(a, b) <- rows.sliding(2).map(_.toArray))
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1), "top-100 order broken")
    info(s"t20 at sf0.001: ${rows.length} memorized chunks, max count ${rows.map(_._2).max}")
  }
}
