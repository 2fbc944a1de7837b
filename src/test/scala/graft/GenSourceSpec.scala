package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GenSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def gen(rows: Long, parts: Int = 4) =
    spark.read.format("graft-gen")
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  test("generates the requested row count across partitions") {
    val df = gen(10000, 8)
    assert(df.count() == 10000)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.select(countDistinct($"id")).head().getLong(0) == 10000)
  }

  test("fully deterministic: two independent reads are identical") {
    val a = gen(500)
    val b = gen(500)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("user-specified schema is validated against the produced schema (DSv2 contract)") {
    import org.apache.spark.sql.types._
    val wrong = StructType(Seq(StructField("nope", StringType)))
    val e = intercept[Exception] {
      spark.read.format("graft-gen").schema(wrong).load().collect()
    }
    assert(e.getMessage.contains("graft-gen") || e.getMessage.contains("schema"),
      s"expected a schema-contract error, got: ${e.getMessage}")
    // the correct schema (what inferSchema returns) is still accepted
    val ok = spark.read.format("graft-gen").schema(graft.sources.GenSource.fullSchema)
      .option("rows", "10").load()
    assert(ok.count() == 10)
  }

  test("column pruning reaches the source (ReadSchema shrinks)") {
    val df = gen(100).select($"key")
    df.collect()
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("cols=key"), scan)
    assert(!scan.contains("cols=id,key"), scan)
  }

  test("micro-batch streaming read: throttled finite stream drains exactly once") {
    val q = spark.readStream.format("graft-gen")
      .option("rows", "100").option("rowsPerBatch", "30")
      .option("partitions", "2").load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("gen_stream").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(spark.table("gen_stream").head().getLong(0) == 100)
    assert(batches >= 4, s"expected >=4 throttled batches (30/batch), got $batches")
  }

  test("streaming restart resumes from committed offset (no replay, no loss)") {
    val ckpt = graft.ops.StreamingGate.tempDir("graft-gen-ckpt").toString
    val out = graft.ops.StreamingGate.tempDir("graft-gen-out").toString
    def start() = spark.readStream.format("graft-gen")
      .option("rows", "100").option("rowsPerBatch", "40")
      .option("partitions", "2").load()
      .select($"id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    val q1 = start()
    q1.processAllAvailable() // drains all 100 (plateaued offset)
    q1.stop()
    val q2 = start() // restart from checkpoint: nothing new to admit
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 100L), s"got ${ids.size} rows") // exactly once
  }

  test("composes with the relational layer (joins, aggregation)") {
    val df = gen(5000)
    val agg = df.groupBy($"key").agg(count(lit(1)).as("n"),
      sum($"value".cast(graft.ops.Q.D6)).cast("double").as("sv"))
    assert(agg.count() == 97)
    assert(agg.agg(sum($"n")).head().getLong(0) == 5000)
  }
}
