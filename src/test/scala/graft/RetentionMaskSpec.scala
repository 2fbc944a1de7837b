package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q61's bitmask spelling (`-Dgraft.q61.mask`): row-identity with the
  * collect_set spelling on the gate corpus and on a planted matrix that
  * exercises every edge (pre-signup purchases, purchase-only users,
  * multi-week gaps, epoch reconstruction), plus the loud 64-week guard. */
class RetentionMaskSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, Long, String, String)]): String = {
    // (event_id, user_id, event_type, ts-string)
    val tmp = graft.ops.StreamingGate.tempDir("graft-q61").toString
    rows.toDF("event_id", "user_id", "event_type", "tss")
      .withColumn("ts", to_timestamp($"tss"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .drop("tss")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  private def rows(dir: String): Seq[String] =
    graft.ops.Temporal.q61.run(spark, dir).collect().map(_.toString).sorted.toSeq

  private def masked(dir: String): Seq[String] =
    graft.ops.Temporal.q61Masked(spark, dir).collect().map(_.toString).sorted.toSeq

  test("mask spelling == collect_set spelling on the gate corpus") {
    val dir = "/root/testdata/sf0.001"
    val plain = rows(dir)
    assert(plain.nonEmpty)
    assert(masked(dir) == plain)
  }

  test("mask spelling == collect_set spelling on the planted edge matrix") {
    val tmp = plant(Seq(
      // user 1: signup week 0, purchases weeks 0, 2 (offset 0 and 2)
      (1L, 1L, "signup", "2024-01-01 10:00:00"),
      (2L, 1L, "purchase", "2024-01-03 10:00:00"),
      (3L, 1L, "purchase", "2024-01-16 10:00:00"),
      // user 2: purchase BEFORE signup (dropped), then one after
      (4L, 2L, "purchase", "2024-01-02 10:00:00"),
      (5L, 2L, "signup", "2024-01-10 10:00:00"),
      (6L, 2L, "purchase", "2024-01-24 10:00:00"),
      // user 3: purchase-only (no cohort row at all)
      (7L, 3L, "purchase", "2024-01-05 10:00:00"),
      // user 4: signup-only (cohort_size 1, no activity)
      (8L, 4L, "signup", "2024-01-08 10:00:00"),
      // user 5: duplicate purchases in one week count once (set semantics)
      (9L, 5L, "signup", "2024-01-01 09:00:00"),
      (10L, 5L, "purchase", "2024-01-02 09:00:00"),
      (11L, 5L, "purchase", "2024-01-04 09:00:00")))
    val plain = rows(tmp)
    assert(plain.nonEmpty)
    assert(masked(tmp) == plain)
  }

  test("a lone far-future purchase is EXACT (mod-64 decode), not an error") {
    // the window premise is the PER-USER PURCHASE SPAN, not the corpus
    // span: one purchase ~104 weeks after signup has span 0 and must
    // decode to the exact 104-week offset
    val tmp = plant(Seq(
      (1L, 1L, "signup", "2024-01-01 10:00:00"),
      (2L, 1L, "purchase", "2026-01-01 10:00:00")))
    // pin the exact offset, not just non-emptiness: 2024-01-01 (a Monday)
    // to 2026-01-01 is week-trunc'd 2025-12-29, exactly 104 weeks later
    val offsets = graft.ops.Temporal.q61.run(spark, tmp)
      .select("wk_offset").collect().map(_.getLong(0)).toSeq
    assert(offsets == Seq(104L), s"expected the lone 104-week offset, got $offsets")
    val maskedOffsets = graft.ops.Temporal.q61Masked(spark, tmp)
      .select("wk_offset").collect().map(_.getLong(0)).toSeq
    assert(maskedOffsets == Seq(104L),
      s"mask decode must yield the exact 104-week offset, got $maskedOffsets")
    assert(masked(tmp) == rows(tmp))
  }

  test("the 64-week purchase-span guard fails loudly, never aliases cells") {
    val tmp = plant(Seq(
      (1L, 1L, "signup", "2024-01-01 10:00:00"),
      (2L, 1L, "purchase", "2024-01-02 10:00:00"),
      (3L, 1L, "purchase", "2026-01-01 10:00:00"))) // span ~104 weeks
    val e = intercept[Exception] {
      graft.ops.Temporal.q61Masked(spark, tmp).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("64-week")), s"wrong failure: $e")
  }
}
