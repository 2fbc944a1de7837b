package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.ops.SimilarityOps

/** The centroid kernels against the window spelling they replace: on
  * random vectors and centroid tables (small-integer components so equal
  * cosines are common, one centroid vector repeated under another cid, a
  * zero vector and a zero centroid whose cosines are NaN, an orthogonal
  * pair at cosine 0, probe counts past the table size, and empty
  * tables), `nearest_centroid`
  * and `nearest_centroids(…, P)` (through [[SimilarityOps.probeAssign]])
  * select exactly the rows of `row_number() OVER (PARTITION BY vec_id
  * ORDER BY cos DESC, cid)` = 1 and ≤ P, with bit-identical cosines,
  * whatever the partition count of the vector frame. */
object NearestCentroidSpec extends Properties("NearestCentroid") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val dims = 4

  private val genVec: Gen[Vector[Double]] = Gen.containerOfN[Vector, Double](dims,
    Gen.frequency(3 -> Gen.choose(-2, 2).map(_.toDouble), 1 -> Gen.choose(-1.0, 1.0)))

  private def unit(i: Int): Vector[Double] = Vector.tabulate(dims)(j => if (j == i) 1.0 else 0.0)

  private val zero = Vector.fill(dims)(0.0)

  /** (vectors, centroids, P): ids and cids are distinct, cids in shuffled
    * order; the vectors include a zero vector and e0, the centroids (when
    * not empty) e1, orthogonal to e0, a copy of their first vector and,
    * in some cases, a zero centroid (a NaN cosine for every vector). */
  private val genCase = for {
    vs <- Gen.choose(1, 30).flatMap(Gen.listOfN(_, genVec))
    cs <- Gen.frequency(1 -> Gen.const(Nil), 5 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, genVec)))
    withZero <- Gen.oneOf(false, true)
    cids <- Gen.pick(cs.size + 3, 100L to 200L).map(scala.util.Random.shuffle(_))
    p <- Gen.choose(1, cs.size + 5)
  } yield {
    val vecs = (zero +: unit(0) +: vs).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val cents =
      if (cs.isEmpty) Nil
      else ((unit(1) +: cs :+ cs.head) ++ Option.when(withZero)(zero)).zip(cids).map(_.swap)
    (vecs, cents, p)
  }

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  property("nearest_centroid(s) equal the row_number window at 1, 3 and 8 partitions") =
    forAllNoShrink(genCase) { case (vecs, cents, p) =>
      val s = spark
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      s.sparkContext.parallelize(cents, 1).toDF("cid", "cv")
        .selectExpr("cid", "cv", "sqrt(dot_product(cv, cv)) AS cn")
        .createOrReplaceTempView("nc_cents")
      val centsRow =
        "SELECT collect_list(named_struct('cid', cid, 'cv', cv, 'cn', cn)) AS cents FROM nc_cents"
      val checks = for (parts <- Seq(1, 3, 8)) yield {
        s.sparkContext.parallelize(vecs, parts).toDF("vec_id", "v")
          .selectExpr("vec_id", "v", "sqrt(dot_product(v, v)) AS nrm")
          .createOrReplaceTempView("nc_vecs")
        // a zero norm means a zero dot, which the kernel's IEEE division
        // turns into NaN; ANSI SQL raises on it, so the reference spells
        // that NaN out
        val ref = s.sql("""
          WITH sc AS (SELECT t.vec_id, c.cid,
                        CASE WHEN t.nrm * c.cn = 0 THEN double('NaN')
                             ELSE dot_product(t.v, c.cv) / (t.nrm * c.cn) END AS cos
                      FROM nc_vecs t CROSS JOIN nc_cents c)
          SELECT vec_id, cid, cos,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM sc""")
          .as[(Long, Long, Double, Int)].collect().toSeq
          .map { case (v, c, cos, rn) => (v, c, bits(cos), rn) }
        val top1 = s.sql(s"""
          SELECT vec_id, nc.cid, nc.cos FROM (${SimilarityOps.nearestSql("nc_vecs", centsRow)})
          WHERE nc IS NOT NULL""")
          .as[(Long, Long, Double)].collect().toSeq
          .map { case (v, c, cos) => (v, c, bits(cos), 1) }
        val topP = s.sql(s"""
          SELECT vec_id, pr.col.cid, pr.col.cos, pr.pos + 1 FROM (
            SELECT vec_id, nearest_centroids(v, nrm, cs.cents, $p) AS nc
            FROM nc_vecs CROSS JOIN ($centsRow) cs)
          LATERAL VIEW posexplode(nc) pr""")
          .as[(Long, Long, Double, Int)].collect().toSeq
          .map { case (v, c, cos, rn) => (v, c, bits(cos), rn) }
        val probes = SimilarityOps.probeAssign(s, "nc_vecs", centsRow, p)
          .as[(Long, Long, Int)].collect().toSeq
        Prop(top1.sorted == ref.filter(_._4 == 1).sorted) :| s"$parts partitions: top-1 differs" &&
          Prop(topP.sorted == ref.filter(_._4 <= p).sorted) :| s"$parts partitions: top-$p differs" &&
          Prop(probes.sorted == ref.filter(_._4 <= p).map(r => (r._1, r._2, r._4)).sorted) :|
            s"$parts partitions: probeAssign differs"
      }
      checks.reduce(_ && _)
    }
}
