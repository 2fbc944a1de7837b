package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** d25 LSH precision audit: a planted deterministic banding collision at
  * jaccard 0.27 (a TRUE false positive — found by searching the fixed
  * hash family, so it reproduces forever) is reported unconfirmed with
  * exact overlap counts; on any corpus the confirmed subset equals d02's
  * verified pair list exactly; count/flag arithmetic is internally
  * consistent. */
class LshAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-d25").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("planted band collision at jaccard 0.27 is audited as unconfirmed") {
    // 8 shared words + 8 distinct per doc: 6 shared 3-shingles of 22
    // total (j = 0.273). This specific suffix pair collides in the
    // b=8 x r=2 family (searched offline over the deterministic hashes);
    // the banding admits it, the audit must report it UNCONFIRMED.
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val tmp = plant(Seq(
      (1L, shared + " x13q0 x13q1 x13q2 x13q3 x13q4 x13q5 x13q6 x13q7"),
      (2L, shared + " y13z0 y13z1 y13z2 y13z3 y13z4 y13z5 y13z6 y13z7")))
    val rows = SparkEntry.queries("d25_lsh_precision_audit")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.length == 1, s"expected the planted collision, got ${rows.toSeq}")
    assert(rows.head == ((1L, 2L, 6L, 22L, 272727L, false)))
    // and d02 itself must NOT emit it (below the 0.8 bar)
    assert(SparkEntry.queries("d02_minhash_lsh")(spark, tmp).count() == 0)
  }

  test("confirmed subset equals d02's verified pairs; arithmetic consistent") {
    val dir = "/root/testdata/sf0.001"
    val audit = SparkEntry.queries("d25_lsh_precision_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(audit.nonEmpty, "no banding candidates on the gate corpus")
    for ((a, b, sh, un, jac6, conf) <- audit) {
      assert(a < b)
      assert(sh >= 1 && un >= sh, s"degenerate counts for ($a,$b)")
      assert(jac6 == sh * 1000000L / un)
      assert(conf == (sh * 10 >= un * 8))
    }
    val confirmed = audit.filter(_._6).map(t => (t._1, t._2)).toSet
    val d02pairs = SparkEntry.queries("d02_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(confirmed == d02pairs,
      s"audit-confirmed set diverges from d02: ${confirmed.diff(d02pairs)} / ${d02pairs.diff(confirmed)}")
    info(s"d25 at sf0.001: ${audit.length} candidates, ${confirmed.size} confirmed " +
      f"(banding precision ${confirmed.size.toDouble / audit.length}%.2f)")
  }

  test("verify-exchange spellings (sets / bcast) are row-identical") {
    // d02 and d25 share ONE scored frame; its two spellings move
    // different bytes (arrays per candidate row / a broadcast dictionary)
    // but must be the same function — pinned on the gate corpus, timed at
    // 64×/256× in SCALE.md.
    val dir = "/root/testdata/sf0.001"
    def rows(sp: String): Seq[(Long, Long, Long, Long)] =
      graft.ops.DedupOps.d02ScoredWith(spark, dir, sp)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).sorted.toSeq
    val sets = rows("sets")
    assert(sets.nonEmpty, "no scored candidates on the gate corpus")
    assert(rows("bcast") == sets, "bcast spelling diverges from sets")
    assertThrows[IllegalArgumentException](rows("classes"))
  }
}
