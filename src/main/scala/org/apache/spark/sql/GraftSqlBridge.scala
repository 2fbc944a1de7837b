package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface: building a DataFrame from a
  * custom LogicalPlan (the standard extension-library pattern — Spark has
  * no public constructor for this). Only used by graft.plans. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
}
