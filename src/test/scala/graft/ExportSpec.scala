package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q56 shard export: the manifest is deterministic and balanced, and the
  * physical write produces one directory per shard whose parquet row
  * order IS the manifest's training order. */
class ExportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("manifest is a permutation: every doc appears once, pos is dense per shard") {
    val m = graft.ops.ExportOps.q56.run(spark, dir).cache()
    val docs = graft.ops.Q.table(spark, dir, "documents")
    assert(m.count() == docs.count())
    assert(m.select("doc_id").distinct().count() == docs.count())
    // pos is 1..n within each shard (dense ranks, no gaps or dupes)
    val bad = m.groupBy("shard")
      .agg(count("*").as("n"), max("pos").as("mx"),
        countDistinct("pos").as("np"))
      .where($"mx" =!= $"n" || $"np" =!= $"n")
    assert(bad.isEmpty, "pos must be dense 1..n per shard")
    m.unpersist()
  }

  test("manifest is stable across runs (no rand anywhere)") {
    val a = graft.ops.ExportOps.q56.run(spark, dir)
      .orderBy("doc_id").collect().toSeq
    val b = graft.ops.ExportOps.q56.run(spark, dir)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("shards are balanced (uniform hash: no shard 3x the mean)") {
    val counts = graft.ops.ExportOps.q56.run(spark, dir)
      .groupBy("shard").count().select("count").as[Long].collect()
    val mean = counts.sum.toDouble / counts.length
    assert(counts.forall(c => c < 3 * mean),
      s"skewed shards: ${counts.mkString(",")}")
  }

  test("writeShards: per-shard directories, file row order = training order") {
    val out = graft.ops.StreamingGate.tempDir("graft-shards").toString
    graft.ops.ExportOps.writeShards(spark, dir, out)
    val manifest = graft.ops.ExportOps.q56.run(spark, dir)
    val back = spark.read.parquet(out)
    assert(back.count() == manifest.count())
    // every (shard, pos, doc_id) triple in the files matches the manifest
    val mism = back.select("shard", "pos", "doc_id")
      .exceptAll(manifest.select("shard", "pos", "doc_id"))
    assert(mism.isEmpty)
    // within one physical shard directory the parquet row order is pos
    // order (the written training order survives the round-trip)
    val one = spark.read.parquet(s"$out/shard=0")
      .select("pos").as[Long].collect()
    assert(one.toSeq == one.sorted.toSeq, "shard file not in training order")
    assert(one.head == 1L && one.last == one.length.toLong)
  }
}
