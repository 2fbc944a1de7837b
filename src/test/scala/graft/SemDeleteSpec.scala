package graft

import org.scalatest.funsuite.AnyFunSuite

/** d27 semantic deletion propagation: a planted vector geometry with one
  * untouched cluster, one re-elected cluster, one vanished singleton and
  * one bridge-split neighborhood (d22's planted-matrix shape, one level
  * deeper into the artifact stack), plus invariants and the honest
  * matches_full readout on the gate corpus. */
class SemDeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** dim-8 embeddings: basis-vector clusters so every cosine is a known
    * constant (within-cluster ≈ 0.99, bridge 0.707, cross 0.0). */
  private def plant(): String = {
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val rows = Seq(
      // X: untouched cluster {1, 2, 7} (7 is also the s03 seed centroid)
      (1L, v(0 -> 1f)),
      (2L, v(0 -> 1f, 5 -> 0.1f)),
      (7L, v(0 -> 1f, 6 -> 0.1f)),
      // Y: re-elect cluster {4, 5, 6}; 4 (≡4 mod 13) is tombstoned
      (4L, v(1 -> 1f)),
      (5L, v(1 -> 1f, 5 -> 0.1f)),
      (6L, v(1 -> 1f, 6 -> 0.1f)),
      // Z: isolated singleton {17}, tombstoned → the cluster vanishes
      (17L, v(2 -> 1f)),
      // V: bridge {9, 43, 10} — 43 (≡4 mod 13) bridges two τ-separated
      // nodes (cos(9,43)=cos(10,43)=0.707, cos(9,10)=0) → delta SPLITS
      (9L, v(3 -> 1f)),
      (10L, v(4 -> 1f)),
      (43L, v(3 -> 1f, 4 -> 1f)))
    val tmp = graft.ops.StreamingGate.tempDir("graft-d27").toString
    rows.toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  private def run(dir: String): Set[(Long, Long, Long, Boolean, Boolean)] =
    SparkEntry.queries("d27_semantic_delete_propagation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toSet

  test("planted matrix: re-elect, vanish, bridge-split; untouched absent") {
    val got = run(plant())
    assert(got == Set(
      // Y re-elects to the min survivor; 6 is pruned under the new rep
      (4L, 5L, 5L, false, true),
      (4L, 6L, 5L, true, true),
      // Z vanishes (every member deleted) — d23's -1 convention
      (17L, -1L, -1L, false, true),
      // V splits when the bridge is forgotten: both survivors become
      // their own representative, and the from-scratch rebuild agrees
      // (no 9-10 edge exists at τ in the survivor graph either)
      (9L, 9L, 9L, false, true),
      (9L, 10L, 10L, false, true)), s"got $got")
    // the untouched cluster (label 1) must not appear at all — its stored
    // rows are kept byte-for-byte, never recomputed
    assert(!got.exists(_._1 == 1L), "untouched cluster was touched")
  }

  test("gate corpus: invariants hold, matches_full is measured not asserted") {
    val got = run("/root/testdata/sf0.001")
    assert(got.nonEmpty, "no affected clusters on the gate corpus")
    for ((oc, vid, nc, pruned, _) <- got) {
      if (vid == -1L) assert(nc == -1L && !pruned, s"bad vanish row for $oc")
      else {
        assert(vid % 13 != 4, s"tombstoned $vid survived in cluster $oc")
        assert(pruned == (nc != vid), s"is_pruned_new wrong for $vid")
        assert(nc <= vid, s"min-label invariant broken for $vid -> $nc")
      }
    }
    // representatives are cluster minima: every non-vanish group's min
    // member equals some member's own label
    for ((nc, g) <- got.filter(_._2 != -1L).groupBy(_._3))
      assert(g.map(_._2).min == nc, s"new cluster $nc is not its min member")
    val m = got.count(_._5)
    info(s"d27 at sf0.001: ${got.size} rows, $m matches_full " +
      f"(${m.toDouble / got.size}%.2f) — divergence is the priced top-k-refreed edge effect")
  }
}
