package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the private[sql] Column↔Expression converters — the
  * supported path for libraries registering custom Catalyst expressions
  * without going through the session function registry. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Bridge into the private[sql] DataFrame constructor, for custom
  * logical nodes, and the session's planner extension point. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental
}
