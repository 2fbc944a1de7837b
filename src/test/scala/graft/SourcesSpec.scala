package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY.md §2.2 scans/sinks rows): parquet, csv,
  * json round-trips with schema fidelity, partitioned writes with
  * partition pruning, and the file-stream source. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    graft.ops.StreamingGate.tempDir(prefix).toString

  private lazy val nation =
    graft.ops.Q.table(spark, "/root/testdata/sf0.001", "nation")

  test("csv round-trip preserves rows (header + explicit schema)") {
    val dir = tmp("graft-csv")
    nation.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(nation.schema).csv(dir)
    assert(back.orderBy($"n_nationkey").collect().toSeq ==
      nation.orderBy($"n_nationkey").collect().toSeq)
  }

  test("json round-trip preserves rows") {
    val dir = tmp("graft-json")
    nation.write.mode("overwrite").json(dir)
    val back = spark.read.schema(nation.schema).json(dir)
    assert(back.orderBy($"n_nationkey").collect().toSeq ==
      nation.orderBy($"n_nationkey").collect().toSeq)
  }

  test("orc round-trip preserves rows") {
    val dir = tmp("graft-orc")
    nation.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.orderBy($"n_nationkey").collect().toSeq ==
      nation.orderBy($"n_nationkey").collect().toSeq)
  }

  test("partitioned parquet write + partition pruning on read") {
    val dir = tmp("graft-part")
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(dir)
    val pruned = spark.read.parquet(dir).where($"n_regionkey" === 2)
    assert(pruned.count() == nation.where($"n_regionkey" === 2).count())
    // pruning must reach the scan: only one partition directory read
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || !plan.contains("n_regionkey=0"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("file-stream source processes files as micro-batches") {
    val dir = tmp("graft-stream-src")
    val q = spark.readStream.schema(nation.schema).parquet(dir)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("file_src").start()
    nation.write.mode("append").parquet(dir)
    q.processAllAvailable()
    val n1 = spark.table("file_src").head().getLong(0)
    nation.write.mode("append").parquet(dir)
    q.processAllAvailable()
    val n2 = spark.table("file_src").head().getLong(0)
    q.stop()
    assert(n1 == 25 && n2 == 50)
  }

  test("malformed JSON records surface via corrupt-record column (PERMISSIVE)") {
    val dir = tmp("graft-badjson")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.json"),
      """{"k": 1, "s": "ok"}
        |{"k": not valid json
        |{"k": 3, "s": "fine"}""".stripMargin.getBytes)
    val schema = "k LONG, s STRING, _corrupt_record STRING"
    val df = spark.read.schema(schema).json(dir).cache()
    assert(df.count() == 3)
    assert(df.where($"_corrupt_record".isNotNull).count() == 1)
    assert(df.where($"k".isNotNull).count() == 2)
    df.unpersist()
  }

  test("memory sink via pipeline DSL sink stage") {
    val dir = tmp("graft-sink")
    import graft.pipeline._
    Pipeline.from(Source[Long]("r", s => s.range(0, 100).as[Long]))
      .to(SinkStage("parquet", ds => ds.write.mode("overwrite").parquet(dir)))
      .runSync(spark)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("Compactor merges small files, preserves rows, range-clusters the sort key") {
    import graft.sources.Compactor
    val lineitem = graft.ops.Q.table(spark, "/root/testdata/sf0.001", "lineitem")
    val inDir = tmp("graft-compact-in")
    // simulate a streaming sink's droppings: 40 tiny part files
    lineitem.repartition(40).write.mode("overwrite").parquet(inDir)
    val outDir = tmp("graft-compact-out")
    val rep = Compactor.compact(spark, inDir, outDir,
      targetBytes = 64L * 1024 * 1024, sortCols = Seq("l_orderkey"))
    assert(rep.filesBefore == 40)
    assert(rep.filesAfter == 1, s"expected 1 file for tiny input, got $rep")
    val back = spark.read.parquet(outDir)
    assert(back.count() == lineitem.count())
    // multiset equality, not just counts (driver-side total order)
    assert(back.collect().toSeq.sortBy(_.toString) ==
      lineitem.collect().toSeq.sortBy(_.toString))
    // multi-file path: force 4 output files and check disjoint key ranges
    val outDir4 = tmp("graft-compact-out4")
    val bytes = rep.bytesBefore
    val rep4 = Compactor.compact(spark, inDir, outDir4,
      targetBytes = math.max(1L, bytes / 4), sortCols = Seq("l_orderkey"))
    assert(rep4.filesAfter >= 2, s"expected multiple files, got $rep4")
    val ranges = new java.io.File(outDir4).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
      .map { f =>
        val d = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"l_orderkey"), max($"l_orderkey")).head()
        (d.getLong(0), d.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file key ranges overlap: $ranges")
      case _ => ()
    }
  }
}
