package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The argmax assignment kernel shared by [[NearestCentroid]]'s
  * interpreted eval and its generated code (public so whole-stage-
  * generated Java in another package can hold and call it). Stateful:
  * centroid-table memo + vector scratch, task-local by construction. */
final class NearestCentroidKernel {
  private val table = new CentroidTable

  /** Returns `struct(cid, cos)` of the highest-cosine centroid (ties to
    * the smallest cid), or null when the centroid table is empty. */
  def eval(vecA: ArrayData, vn: Double, cs: ArrayData): InternalRow = {
    table.decode(cs)
    if (table.k == 0) return null
    table.score(vecA, vn)
    var best = 0
    var c = 1
    while (c < table.k) { if (table.before(c, best)) best = c; c += 1 }
    InternalRow(table.cids(best), table.cos(best))
  }
}

/** Per-row nearest-centroid assignment: given a vector, its L2 norm, and
  * the centroid table as ONE array value (`collect_list(named_struct(
  * 'cid', …, 'cv', …, 'cn', …))` over the seed set, cross-joined as a
  * single broadcast row), returns `struct(cid, cos)` of the
  * highest-cosine centroid, ties to the smallest cid — exactly the row
  * `row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1`
  * selects.
  *
  * WHY: the window spelling EXPLODES each vector into k scored rows and
  * shuffles all N·k of them so one task can sort each vector's
  * candidates — the exchange grows with the centroid count, which is
  * exactly the dial that must grow with corpus size (cells stay O(100)
  * only if k ∝ N). This expression keeps assignment row-wise: one pass
  * over the scan, no row explosion, no shuffle — N·k work, O(N) rows.
  * Dots fold left-to-right like [[DotProduct]], so the selected cosine
  * is bit-identical to the SQL chain's.
  *
  * Codegen is off on purpose (`CodegenFallback`): consumers read the
  * struct result more than once (`nc.cid`, `nc.cos`, d17's `nc IS NOT
  * NULL`), CollapseProject substitutes the alias into each read, and a
  * generated spelling would run the N·k fold once per read. The fallback
  * projection evaluates it once under subexpression elimination.
  * Measured in SCALE.md "Round 15: codegen A/B for the two hottest
  * interpreted kernels"; [[NearestCentroids]] (one read, via posexplode)
  * is generated. */
case class NearestCentroid(vec: Expression, nrm: Expression, cents: Expression)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  /** Explicitly nullable regardless of the children: an EMPTY centroid
    * array evaluates to null (d17's empty-eval-set guard relies on
    * `IS NOT NULL` surviving optimization) — inheriting nullability from
    * the children would let Catalyst fold that guard away whenever all
    * three inputs are non-nullable. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (CentroidTable.argsOk(vec, nrm, cents)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (${CentroidTable.argsDoc}), got " +
        Seq(vec, nrm, cents).map(_.dataType.simpleString).mkString(", "))
  }

  override def prettyName: String = "nearest_centroid"

  @transient private lazy val kernel = new NearestCentroidKernel

  override protected def nullSafeEval(v: Any, n: Any, cs: Any): Any =
    kernel.eval(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      cs.asInstanceOf[ArrayData])


  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroid =
    copy(vec = newFirst, nrm = newSecond, cents = newThird)
}
