package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AggregateWindowFunction, Attribute, BoundReference, CurrentRow, Expression, JoinedRow, Lag, Literal, MutableProjection, NamedExpression, OffsetWindowFunction, RowFrame, SizeBasedWindowFunction, SortOrder, SpecificInternalRow, SpecifiedWindowFrame, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, NoOp}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.{GraftWindowBridge, WindowExec, WindowExecBase}

/** A window whose every function looks only backwards, evaluated in one
  * streaming pass over its sorted input.
  *
  * `WindowExec` buffers each whole partition group before it evaluates a
  * row of it; past 4 096 rows that buffer becomes a memory-managed sorter,
  * whose page requests force the sort below the window to spill while the
  * window is still reading it. A running frame (`ROWS BETWEEN UNBOUNDED
  * PRECEDING AND CURRENT ROW`) and `lag` need only the rows already seen,
  * so this operator folds each row into the running aggregates as it
  * arrives and keeps a ring of the last k rows for `lag` k. It holds
  * O(max lag) rows and asks the memory manager for nothing.
  *
  * Every value equals `WindowExec`'s: the running aggregates go through
  * Spark's own `AggregateProcessor` ([[GraftWindowBridge]]), updated and
  * evaluated once per row in input order, as `WindowExec` folds such a
  * frame; the group changes where the partition key, compared as an
  * `UnsafeRow`, changes; `lag` reads its input from the row k back in the
  * group and evaluates its default against the current row, as
  * `FrameLessOffsetWindowFunctionFrame` does. The output row is built by
  * the same projection `WindowExec` builds.
  *
  * [[RunningWindow]] installs the operator as a query-stage preparation
  * rule, so plans outside adaptive execution (streaming micro-batches)
  * keep `WindowExec`.
  */
final case class RunningWindowExec(
    windowExpression: Seq[NamedExpression],
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    child: SparkPlan) extends WindowExecBase {

  override protected def doExecute(): RDD[InternalRow] = {
    val (exprs, keys, input) = (windowExpression, partitionSpec, child.output)
    child.execute().mapPartitions(
      rows => new RunningWindowIterator(rows, exprs, keys, input), preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RunningWindowExec =
    copy(child = newChild)
}

object RunningWindowExec {
  private val RunningFrame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)

  /** The window functions of `windowExpression`, each once. */
  private[plans] def functions(windowExpression: Seq[NamedExpression]): Seq[WindowExpression] =
    windowExpression.flatMap(_.collect { case e: WindowExpression => e }).distinct

  /** The largest `lag` offset taken: the ring holds k rows on the heap,
    * outside the memory manager, so it stays within the 4 096 rows
    * `WindowExec` itself keeps in memory before its buffer spills. */
  private[graft] val MaxLag = 4096

  /** k of a `lag(x, k)` with a constant 1 ≤ k ≤ [[MaxLag]] that keeps
    * nulls. */
  private[plans] def lagOffset(f: Expression): Option[Int] = f match {
    case Lag(_, offset, _, false) if offset.foldable =>
      offset.eval() match {
        case k: Int if k >= 1 && k <= MaxLag => Some(k)
        case _ => None
      }
    case _ => None
  }

  /** Whether `e` needs only the rows up to the current one: `lag` as
    * above, or an unfiltered, non-distinct aggregate or a row-number-like
    * window function over a running `ROWS` frame. */
  def backwardOnly(e: WindowExpression): Boolean =
    lagOffset(e.windowFunction).isDefined ||
      e.windowSpec.frameSpecification == RunningFrame && (e.windowFunction match {
        case AggregateExpression(_, _, false, None, _) => true
        case f: AggregateWindowFunction =>
          !f.isInstanceOf[SizeBasedWindowFunction] && !f.isInstanceOf[OffsetWindowFunction]
        case _ => false
      })

  def eligible(windowExpression: Seq[NamedExpression]): Boolean =
    functions(windowExpression).forall(backwardOnly)
}

/** Replaces a `WindowExec` whose every function is backward-only with
  * [[RunningWindowExec]]. Injected by [[graft.functions.GraftExtensions]]
  * as a query-stage preparation rule. */
object RunningWindow extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case WindowExec(exprs, keys, order, child) if RunningWindowExec.eligible(exprs) =>
      RunningWindowExec(exprs, keys, order, child)
  }
}

/** The streaming pass of [[RunningWindowExec]] over one sorted partition.
  * Window values go to one result row, running aggregates first (the
  * processor writes them side by side), then one slot per `lag`. */
private[plans] final class RunningWindowIterator(
    input: Iterator[InternalRow],
    windowExpression: Seq[NamedExpression],
    partitionSpec: Seq[Expression],
    childOutput: Seq[Attribute]) extends Iterator[InternalRow] {

  private val (lags, aggs) = RunningWindowExec.functions(windowExpression)
    .partition(e => RunningWindowExec.lagOffset(e.windowFunction).isDefined)
  private val slots: Seq[WindowExpression] = aggs ++ lags
  private val result = new SpecificInternalRow(slots.map(_.dataType))

  private val running =
    if (aggs.isEmpty) null
    else new GraftWindowBridge.RunningAggregates(aggs.map(_.windowFunction match {
      case a: AggregateExpression => a.aggregateFunction
      case f => f
    }).toArray, 0, childOutput)

  private val lagFns = lags.map(_.windowFunction.asInstanceOf[Lag])
  private val lagK = lags.map(e => RunningWindowExec.lagOffset(e.windowFunction).get).toArray
  // writes `value` into lag j's slot: its input on the row k back, or
  // its default on the current row
  private def slotProjection(j: Int, value: Expression): MutableProjection =
    MutableProjection.create(Seq.fill(aggs.size + j)(NoOp) :+ value,
      childOutput.map(_.withNullability(true))).target(result)
  private val lagInput = lagFns.zipWithIndex.map { case (f, j) => slotProjection(j, f.input) }.toArray
  private val lagDefault = lagFns.zipWithIndex.map { case (f, j) =>
    val default =
      if (f.default == null || f.default.foldable && f.default.eval() == null) {
        Literal.create(null, f.dataType)
      } else f.default
    slotProjection(j, default)
  }.toArray
  // the last `ringSize` rows of the group, row i in slot i % ringSize
  private val ringSize = if (lagK.isEmpty) 0 else lagK.max
  private val ring = Array.fill(ringSize) {
    val r = new UnsafeRow(childOutput.length)
    r.pointTo(new Array[Byte](0), 0)
    r
  }

  private val grouping = UnsafeProjection.create(partitionSpec, childOutput)
  private var group: UnsafeRow = _
  private var index = 0L // of the current row in its group

  private val join = new JoinedRow
  private val project = {
    val refs = slots.zipWithIndex.map { case (e, i) =>
      BoundReference(childOutput.size + i, e.dataType, e.nullable)
    }
    val bound: Map[Expression, Expression] = slots.zip(refs).toMap
    UnsafeProjection.create(childOutput ++ windowExpression.map(_.transform(bound)), childOutput)
  }

  override def hasNext: Boolean = input.hasNext

  override def next(): InternalRow = {
    val row = input.next().asInstanceOf[UnsafeRow]
    val key = grouping(row)
    if (group == null || key != group) {
      group = key.copy()
      index = 0
      if (running != null) running.reset()
    }
    if (running != null) running.add(row, result)
    var j = 0
    while (j < lagK.length) {
      if (index >= lagK(j)) lagInput(j)(ring(((index - lagK(j)) % ringSize).toInt))
      else lagDefault(j)(row)
      j += 1
    }
    if (ringSize > 0) ring((index % ringSize).toInt).copyFrom(row)
    index += 1
    project(join(row, result))
  }
}
