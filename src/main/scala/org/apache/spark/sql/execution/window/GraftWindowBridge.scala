package org.apache.spark.sql.execution.window

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, MutableProjection}

/** Bridge into window internals that are private to Spark, for
  * `graft.plans.RunningWindowExec`: the `AggregateProcessor` that
  * `WindowExec` folds its frame aggregates with, built the same way. */
object GraftWindowBridge {

  /** The running value of `functions` (aggregate functions and aggregate
    * window functions) over the rows added since the last reset; `add`
    * folds one row in and writes every value into `target`, from
    * `ordinal` on. Updating and evaluating row by row is what `WindowExec`
    * does for a `ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` frame,
    * so every value, doubles included, comes out the same. */
  final class RunningAggregates(functions: Array[Expression], ordinal: Int, input: Seq[Attribute]) {
    private val processor = AggregateProcessor(functions, ordinal, input,
      (exprs, schema) => MutableProjection.create(exprs, schema))

    def reset(): Unit = processor.initialize(0)

    def add(row: InternalRow, target: InternalRow): Unit = {
      processor.update(row)
      processor.evaluate(target)
    }
  }
}
