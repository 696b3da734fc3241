package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for the private[sql] Dataset.ofRows — the standard
  * way ecosystem libraries materialize a DataFrame from a custom
  * LogicalPlan (Spark 4 exposes no public constructor for this).
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression without the function registry — lets a pure
    * column-expression API (no session in scope) build a custom
    * Catalyst expression directly; resolution happens at analysis
    * like any other unresolved column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
