package graft

/** Test-scope evidence harness: edge-set agreement between the two
  * trained k-NN graph variants at scale, plus each leg's wall time — the
  * quality counterpart of the speed numbers in SCALE.md. At gate SFs
  * KnnGraphSpec proves exact equality (all groups probed); at 64×+
  * partial probing and hierarchical training are real approximations
  * and this prints the measured edge overlap.
  *
  * Variants:
  *  - `flat`: flat sampled training, flat assignment
  *  - `hier`: the default — hierarchical N^1.5 training + two-level
  *            assignment
  *
  * Usage: sbt "Test/runMain graft.GraphOverlap <dataDir> <K> [varA varB]"
  * (default `flat hier`). Prints the engaged assignment key per leg so a
  * silent fallback can never masquerade as a measured overlap.
  */
object GraphOverlap {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = args(1).toInt
    val (va, vb) =
      if (args.length > 3) (args(2), args(3)) else ("flat", "hier")
    val spark = Sessions.local()

    def leg(variant: String) = {
      val twoLevelK = variant match {
        case "flat" => Int.MaxValue
        case "hier" => 1024
        case other => sys.error(s"unknown variant '$other' (flat|hier)")
      }
      val t0 = System.nanoTime()
      val df = graft.ops.DedupOps.s15KnnFrameWith(spark, dir, Some(k), twoLevelK)
        .selectExpr("src", "nb").distinct().persist()
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val key = graft.ops.DedupOps.KnnDiag.lastAssignKey
      System.err.println(f"[overlap] $variant: $n edges, engaged=$key, $secs%.2f s")
      (df, n, key, secs)
    }

    val (a, na, keyA, sA) = leg(va)
    val (b, nb, keyB, sB) = leg(vb)
    val inter = a.intersect(b).count()
    println(f"""{"variant_a":"$va","variant_b":"$vb","a_edges":$na,"b_edges":$nb,"common":$inter,"overlap_of_a":${inter.toDouble / math.max(1L, na)}%.4f,"engaged_a":"$keyA","engaged_b":"$keyB","a_s":$sA%.2f,"b_s":$sB%.2f}""")
    spark.stop()
  }
}
