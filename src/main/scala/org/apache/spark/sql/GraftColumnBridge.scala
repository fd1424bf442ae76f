package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and plan → DataFrame bridge for graft's Catalyst
  * extensions.
  *
  * `ExpressionUtils` and `classic.Dataset.ofRows` are `private[sql]` in
  * Spark 4, so — like every third-party Spark extension library — the
  * conversions graft needs are exposed through a one-file shim living in
  * the `org.apache.spark.sql` package. No Spark internals are modified
  * or shadowed; this only re-exports the sanctioned conversions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** A DataFrame over the hand-built logical `plan`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
