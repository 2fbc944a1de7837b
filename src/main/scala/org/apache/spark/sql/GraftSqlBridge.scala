package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Minimal bridge into `private[sql]` surface: building a DataFrame from a
  * custom LogicalPlan (the standard extension-library pattern — Spark has
  * no public constructor for this). Only used by graft.plans and
  * graft.ops.Q. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Eagerly checkpoint `df` (to the reliable checkpoint dir, or locally)
    * and return its `LogicalRDD` leaf declaring the partitioning and
    * ordering of the plan that ran. Spark's own checkpoint copies them
    * from the adaptive wrapper, which reports `UnknownPartitioning(0)`;
    * after the eager run the wrapper holds its final plan, whose
    * partitioning is exactly how the checkpointed RDD is laid out. */
  def checkpoint(df: DataFrame, reliable: Boolean): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val ck = ds.checkpoint(eager = true, reliableCheckpoint = reliable, storageLevel = None)
    (ck.logicalPlan, ds.queryExecution.executedPlan) match {
      case (leaf: LogicalRDD, a: AdaptiveSparkPlanExec)
          if a.isFinalPlan && a.executedPlan.output.size == leaf.output.size =>
        val ran = a.executedPlan
        val attrs = AttributeMap(ran.output.zip(leaf.output))
        def rebind(e: Expression): Expression =
          e.transform { case r: Attribute => attrs.getOrElse(r, r) }
        val partitioning = ran.outputPartitioning match {
          case e: Expression => rebind(e).asInstanceOf[Partitioning]
          case p => p
        }
        val ordering = ran.outputOrdering.map(rebind(_).asInstanceOf[SortOrder])
        ofRows(ck.sparkSession, leaf.makeCopy(Array(leaf.output, leaf.rdd,
          partitioning, ordering, Boolean.box(leaf.isStreaming), leaf.stream)))
      case _ => ck
    }
  }
}
