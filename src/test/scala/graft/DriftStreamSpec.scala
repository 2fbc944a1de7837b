package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q71 streaming drift: hand-computed per-batch emissions on the planted
  * two-snapshot corpus, convergence of the final per-token state to
  * q70's batch pivot on the gate corpus (d23's one-semantics-two-
  * latencies proof applied to the data-card path), and RocksDB parity. */
class DriftStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-q71").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def run(dir: String, p: Option[String]): Seq[(Long, String, Long, Long, Boolean)] =
    graft.ops.StreamingGate.driftStream(spark, dir, p)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sorted.toSeq

  test("planted corpus: exact per-batch running counts and alarms") {
    val tmp = plant(Seq(
      (0L, "stable stable oldtok"),
      (1L, "stable stable newtok surge surge surge"),
      (2L, "   ")))
    val got = run(tmp, None)
    assert(got == Seq(
      (0L, "oldtok", 1L, 0L, false),
      (0L, "stable", 2L, 0L, false),
      (1L, "newtok", 0L, 1L, true),
      (1L, "stable", 2L, 2L, true),
      (1L, "surge", 0L, 3L, true)), s"got $got")
  }

  test("q71 FSM: hot-token batch folds lazily - O(1) memory, one emission") {
    import graft.ops.StreamingGate.{driftFsm, DriftRow, DriftState}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // a stop-word-class token occurring 300k times in one ingest batch:
    // the FSM must fold the iterator into two running Longs - never
    // buffer it - and emit exactly ONE row with the updated totals
    val n = 300000
    var served = 0
    def rows: Iterator[DriftRow] = new Iterator[DriftRow] {
      private var i = 0
      def hasNext: Boolean = i < n
      def next(): DriftRow = { served += 1; i += 1; DriftRow("the", 1L, 2L) }
    }
    val st = TestGroupState.create[DriftState](
      org.apache.spark.api.java.Optional.of(DriftState(7L, 5L)),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val out = driftFsm("the", rows, st).toSeq
    assert(served == n, "fold must consume the whole batch")
    assert(out == Seq(graft.ops.StreamingGate.DriftOut(1L, "the", 7L, 5L + 2L * n)),
      s"got $out")
    assert(st.get == DriftState(7L, 5L + 2L * n))
  }

  test("q71 FSM: a mixed-parity micro-batch fails loudly, never miscounts") {
    // Round-13 advice: bno was taken from the LAST row, silently folding a
    // mixed batch (config change, compaction, different trigger) into one
    // emission with an arbitrary bno — and the NA/NB alarm post-pass sums
    // cnt_a over bno=0 and cnt_b over bno=1, so that miscomputes drift
    // without any visible failure. The fold now ENFORCES the parity-
    // staged invariant instead of assuming it.
    import graft.ops.StreamingGate.{driftFsm, DriftRow, DriftState}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val st = TestGroupState.create[DriftState](
      org.apache.spark.api.java.Optional.empty[DriftState](),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), false)
    val mixed = Iterator(DriftRow("t", 0L, 1L), DriftRow("t", 1L, 1L))
    val e = intercept[IllegalStateException] { driftFsm("t", mixed, st) }
    assert(e.getMessage.contains("mixed-parity"))
    // state must be untouched after the loud failure
    assert(st.getOption.isEmpty)
  }

  test("final state converges to q70's batch pivot; RocksDB agrees") {
    val dir = "/root/testdata/sf0.001"
    val out = run(dir, None)
    assert(out.nonEmpty)
    // final per-token state = the batch-1 emission when the token arrived
    // in the later snapshot, else its batch-0 row
    val fin = out.groupBy(_._2).map { case (tok, rows) =>
      val last = rows.maxBy(_._1); tok -> ((last._3, last._4))
    }
    val q70 = SparkEntry.queries("q70_snapshot_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fin == q70,
      s"streaming final state diverges from q70: ${fin.toSet.diff(q70.toSet)}")
    // the alarm agrees with q70 for every token the stream alarmed on
    // (batch-1 rows see the complete totals once the last batch landed)
    val q70drift = SparkEntry.queries("q70_snapshot_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getBoolean(6)).toMap
    for ((bno, tok, _, _, drifted) <- out if bno == 1L)
      assert(drifted == q70drift(tok), s"alarm mismatch for $tok")
    assert(out.exists(_._5), "alarm never fired on the gate corpus")
    // same pipeline with state in RocksDB: identical emissions
    assert(run(dir, Some(graft.streaming.StateStores.RocksDB)) == out)
  }
}
