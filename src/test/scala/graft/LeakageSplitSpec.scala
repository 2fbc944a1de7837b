package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d26 split-leakage audit: the cluster-hash rule leaks NOTHING (every
  * audited row is the end-to-end proof of q54's property), the naive
  * doc-hash rule measurably leaks — demonstrated on a planted identical
  * pair whose doc-hash buckets differ and quantified on the gate
  * corpus — and the audited pair set is exactly d02's verified list. */
class LeakageSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-d26").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def run(dir: String): Seq[(String, Long, Long, String, String, Boolean)] =
    SparkEntry.queries("d26_split_leakage_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5))).toSeq

  test("planted identical pair: doc-hash leaks it, cluster-hash cannot") {
    // char_fold("10", 505) % 100 = 72 (train) but char_fold("19", 505)
    // % 100 = 81 (val): the doc-hash rule splits this identical pair
    // across train/val. The cluster rule keys both on cluster 10.
    val txt = (0 until 30).map(i => s"w$i").mkString(" ")
    val tmp = plant(Seq((10L, txt), (19L, txt),
      (25L, (0 until 30).map(i => s"z$i").mkString(" "))))
    val rows = run(tmp)
    val byRule = rows.groupBy(_._1)
    assert(byRule("cluster_hash") == Seq(
      ("cluster_hash", 10L, 19L, byRule("cluster_hash").head._4,
        byRule("cluster_hash").head._4, false)),
      s"cluster rule rows: ${byRule("cluster_hash")}")
    assert(byRule("doc_hash") == Seq(("doc_hash", 10L, 19L, "train", "val", true)),
      s"doc rule rows: ${byRule("doc_hash")}")
  }

  test("gate corpus: cluster rule leaks zero, doc rule leaks measurably; pair set = d02") {
    val dir = "/root/testdata/sf0.001"
    val rows = run(dir)
    val byRule = rows.groupBy(_._1)
    assert(byRule.keySet == Set("cluster_hash", "doc_hash"))
    val cluster = byRule("cluster_hash")
    val doc = byRule("doc_hash")
    assert(cluster.size == doc.size && cluster.nonEmpty)
    assert(cluster.forall(!_._6), "cluster-hash rule leaked a near-dup pair")
    val leaked = doc.count(_._6)
    info(s"d26 at sf0.001: ${doc.size} verified near-dup pairs; doc-hash leaks $leaked, cluster-hash leaks 0")
    assert(leaked > 0, "doc-hash baseline leaked nothing - audit not exercised")
    val pairs = SparkEntry.queries("d02_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cluster.map(t => (t._2, t._3)).toSet == pairs,
      "audited pair set diverges from d02's verified list")
  }
}
