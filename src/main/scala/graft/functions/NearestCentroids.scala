package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The centroid table both kernels read: a per-task memoized decode into
  * primitive arrays, the scoring loop ([[score]]) and the rank order
  * ([[before]]) that [[NearestCentroidKernel]] and
  * [[NearestCentroidsKernel]] share.
  *
  * The centroid argument reaches the expression as the SAME broadcast
  * ArrayData instance on every row of a task (it is the one
  * `collect_list` value of a 1-row frame, cross-joined in), but walking
  * it per row pays k struct-views + k ArrayData element reads per
  * evaluation — at the trained-quantizer K∝N operating point that is
  * the dominant interpreted cost of the whole assignment pass. Decode is
  * identity-keyed with a cheap sanity key (length + first AND last cid):
  * first row parses into `double[][]`, every subsequent row reuses it; an
  * identity hit whose sanity key disagrees (a container
  * reused-and-repointed by the runtime) re-decodes — correctness never
  * depends on the memo. The two-endpoint key means a repointed
  * same-length container is only silently reused if its first AND last
  * cids both match the cached table — callers that broadcast several
  * same-length tables through one reader (the two-level per-group member
  * lists) satisfy this trivially because their cid sets are globally
  * disjoint (centroid cids are seed vec_ids), but the memo no longer
  * RELIES on that invariant alone.
  * Kernel instances live one-per-generated-class-instance (codegen) or
  * one-per-deserialized-expression-tree (interpreted), both task-local
  * and single-threaded. */
private[functions] final class CentroidTable {
  private var ref: AnyRef = _
  var k: Int = 0
  var cids: Array[Long] = _
  var cvs: Array[Array[Double]] = _
  var cns: Array[Double] = _
  /** The cosines of the last [[score]]d vector, slot for slot. */
  var cos: Array[Double] = _
  private var vecBuf: Array[Double] = _

  def decode(arr: ArrayData): Unit = {
    if ((arr.asInstanceOf[AnyRef] eq ref) && arr.numElements() == k &&
        (k == 0 || (arr.getStruct(0, 3).getLong(0) == cids(0) &&
          arr.getStruct(k - 1, 3).getLong(0) == cids(k - 1)))) return
    k = arr.numElements()
    cids = new Array[Long](k)
    cvs = new Array[Array[Double]](k)
    cns = new Array[Double](k)
    var c = 0
    while (c < k) {
      val row = arr.getStruct(c, 3)
      cids(c) = row.getLong(0)
      cvs(c) = row.getArray(1).toDoubleArray()
      cns(c) = row.getDouble(2)
      c += 1
    }
    ref = arr.asInstanceOf[AnyRef]
  }

  /** Fills [[cos]] with the cosine of `vecA` (L2 norm `vn`) against every
    * decoded centroid: `dot / (vn * cn)`, the dot a left fold like
    * [[DotProduct]]'s, so each cosine is bit-identical to the SQL chain's. */
  def score(vecA: ArrayData, vn: Double): Unit = {
    val dims = vecA.numElements()
    if (vecBuf == null || vecBuf.length < dims) vecBuf = new Array[Double](dims)
    if (cos == null || cos.length < k) cos = new Array[Double](k)
    var i = 0
    while (i < dims) { vecBuf(i) = vecA.getDouble(i); i += 1 }
    var c = 0
    while (c < k) {
      val cv = cvs(c)
      var acc = 0.0
      i = 0
      while (i < dims) { acc += vecBuf(i) * cv(i); i += 1 }
      cos(c) = acc / (vn * cns(c))
      c += 1
    }
  }

  /** Whether slot `a` ranks before slot `b` under `ORDER BY cos DESC, cid`,
    * comparing doubles as Spark's sort does (NaN greatest, -0.0 = 0.0). */
  def before(a: Int, b: Int): Boolean = {
    val x = cos(a); val y = cos(b)
    val cmp = if (x == y) 0 else java.lang.Double.compare(x, y)
    cmp > 0 || (cmp == 0 && cids(a) < cids(b))
  }
}

private[functions] object CentroidTable {
  /** The argument check both expressions share: (array<double>, double,
    * array<struct<cid:bigint, cv:array<double>, cn:double>>). */
  def argsOk(vec: Expression, nrm: Expression, cents: Expression): Boolean =
    (vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && nrm.dataType == DoubleType && (cents.dataType match {
      case ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _),
            StructField(_, DoubleType, _, _))), _) => true
      case _ => false
    })

  val argsDoc = "array<double>, double, array<struct<cid:bigint,cv:array<double>,cn:double>>"
}

/** The top-P assignment kernel shared by [[NearestCentroids]]' interpreted
  * eval and its generated code (public so whole-stage-generated Java in
  * another package can hold and call it). Stateful: centroid-table memo +
  * scratch buffers, task-local by construction. */
final class NearestCentroidsKernel {
  private val table = new CentroidTable

  /** Returns the top-`probes` `array<struct<cid,cos>>`, or null when the
    * centroid table is empty. */
  def eval(vecA: ArrayData, vn: Double, cs: ArrayData, probes: Int): ArrayData = {
    table.decode(cs)
    val k = table.k
    if (k == 0) return null
    table.score(vecA, vn)
    // p selection passes over the scored slots (p ≪ K), each taking the
    // best slot not yet taken
    val take = math.max(0, math.min(probes, k))
    val taken = new Array[Boolean](k)
    val out = new Array[Any](take)
    var r = 0
    while (r < take) {
      var best = -1
      var c = 0
      while (c < k) {
        if (!taken(c) && (best < 0 || table.before(c, best))) best = c
        c += 1
      }
      taken(best) = true
      out(r) = InternalRow(table.cids(best), table.cos(best))
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-row TOP-P centroid assignment — [[NearestCentroid]] generalized to
  * the multi-probe case: returns `array<struct<cid, cos>>` of the `p`
  * highest-cosine centroids in rank order (ties to the smaller cid) —
  * exactly the rows `row_number() OVER (PARTITION BY vec_id ORDER BY cos
  * DESC, cid) <= p` selects.
  *
  * WHY: the window spelling explodes each vector into K scored rows and
  * shuffles all N·K of them so one task can sort each vector's
  * candidates. At the trained-quantizer K∝N operating point that is the
  * scale-killer made literal: 64× data at K=2560 means an 819 M-row
  * exchange + sort for what is a row-wise argmax-P. This expression keeps
  * multi-probe assignment on the scan: one pass, no row explosion, no
  * shuffle — N·K dot products, O(N) rows out. Dots fold left-to-right
  * like [[DotProduct]], so selected cosines are bit-identical to the SQL
  * chain's.
  *
  * Generated code (`doGenCode`): the kernel is mutable state of the
  * generated class, so the N·K fold runs inside the whole-stage body. The
  * array result is read once (posexplode), so fusing has no
  * multiplicity cost, unlike [[NearestCentroid]]. Measured in SCALE.md
  * "Round 15: codegen A/B for the two hottest interpreted kernels". */
case class NearestCentroids(
    vec: Expression, nrm: Expression, cents: Expression, p: Expression)
    extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents
  override def fourth: Expression = p

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  /** Nullable like [[NearestCentroid]]: empty centroid array → null, and
    * the guard must survive optimization. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    // p must be a foldable POSITIVE int: a non-positive literal would
    // otherwise surface as a runtime array-size error at eval time
    val okP = p.dataType == IntegerType && p.foldable && {
      val pv = p.eval(InternalRow.empty)
      pv != null && pv.asInstanceOf[Int] > 0
    }
    if (CentroidTable.argsOk(vec, nrm, cents) && okP) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (${CentroidTable.argsDoc}, positive literal int), got " +
        Seq(vec, nrm, cents, p).map(_.dataType.simpleString).mkString(", "))
  }

  override def prettyName: String = "nearest_centroids"

  @transient private lazy val probes: Int =
    p.eval(InternalRow.empty).asInstanceOf[Int]

  @transient private lazy val kernel = new NearestCentroidsKernel

  override protected def nullSafeEval(v: Any, n: Any, cs: Any, pv: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      cs.asInstanceOf[ArrayData], probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kcls = classOf[NearestCentroidsKernel].getName
    val kern = ctx.addMutableState(kcls, "ncsKernel", v => s"$v = new $kcls();")
    val code = nullSafeCodeGen(ctx, ev, (v, n, cs, pv) =>
      s"""
         |${ev.value} = $kern.eval($v, $n, $cs, $pv);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
    code
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): NearestCentroids =
    copy(vec = newFirst, nrm = newSecond, cents = newThird, p = newFourth)
}
