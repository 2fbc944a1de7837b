package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The timestamp-encoding robustness contract (round-8 hardening): the
  * driver has already re-encoded `events.ts` once (TIMESTAMP(NANOS) →
  * timestamp[us]/NTZ), silently breaking every event-time query for a
  * round. This spec pins the contract that a re-encode can never do that
  * again: the SAME events data is written in each encoding the generators
  * have produced — nanos-as-long, TIMESTAMP_NTZ, and UTC-adjusted
  * TimestampType — and the event-time queries must return IDENTICAL
  * results on all three. (Reference parity: gasket stages are
  * input-format-agnostic by construction —
  * `/root/reference/gasket/src/framework.rs:10`.)
  */
class TimestampEncodingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val srcDir = "/root/testdata/sf0.001"

  /** events.ts re-encoded three ways, each in its own dir shaped like a
    * testdata SF dir (events.parquet only — the queries under test read
    * nothing else). */
  private lazy val encodedDirs: Map[String, String] = {
    val ev = ops.Q.events(spark, srcDir) // normalized TimestampType
    def mk(name: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (String, String) = {
      val dir = graft.ops.StreamingGate.tempDir(s"graft-enc-$name").toString
      f(ev).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      name -> dir
    }
    Map(
      // UTC-adjusted micros — reads back as TimestampType
      mk("ltz")(identity),
      // wall-clock micros (isAdjustedToUTC=false) — reads back as NTZ;
      // the driver's current generator output
      mk("ntz")(_.withColumn("ts", col("ts").cast("timestamp_ntz"))),
      // epoch nanoseconds as int64 — the Spark-side shape of the legacy
      // TIMESTAMP(NANOS) files under nanosAsLong=true
      mk("longns")(_.withColumn("ts", expr("unix_micros(ts) * 1000L"))))
  }

  test("the three encodings read back with three distinct raw ts types") {
    val types = encodedDirs.map { case (n, d) =>
      n -> spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
    }
    assert(types("ltz") == org.apache.spark.sql.types.TimestampType)
    assert(types("ntz") == org.apache.spark.sql.types.TimestampNTZType)
    assert(types("longns") == org.apache.spark.sql.types.LongType)
  }

  test("Q.events normalizes every encoding to identical TimestampType rows") {
    val collected = encodedDirs.map { case (n, d) =>
      val df = ops.Q.events(spark, d)
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"encoding $n not normalized")
      n -> df.select("event_id", "ts").orderBy("event_id").collect().toSeq
    }
    assert(collected("ntz") == collected("ltz"))
    assert(collected("longns") == collected("ltz"))
  }

  // One query per event-time family that broke in round 7: batch agg,
  // bucketed range join, funnel SQL (unix_micros over the view), and the
  // real streaming plan (watermark + NTZ-matched sentinel row).
  private val eventTimeQueries =
    Seq("q21_hourly_events", "q28_range_join", "q60_conversion_funnel",
      "q42_streaming_hourly")

  for (qn <- eventTimeQueries)
    test(s"$qn returns identical results under all three ts encodings") {
      val results = encodedDirs.map { case (n, d) =>
        val df = SparkEntry.queries(qn)(spark, d)
        n -> df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      }
      assert(results("ntz").nonEmpty)
      assert(results("ntz") == results("ltz"), s"$qn: ntz ≠ ltz")
      assert(results("longns") == results("ltz"), s"$qn: longns ≠ ltz")
    }
}
