package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's package-private Column ⇄ Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils). Lives under
  * org.apache.spark.sql.* solely for access; keep this file tiny.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → catalyst expression through Spark's own ColumnNode
    * converter — unlike `expression`, this resolves internal sort nodes
    * (`col.desc`) into catalyst `SortOrder`, which custom plan nodes
    * need as real expressions, not Unevaluable wrappers. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a (possibly custom) logical plan — the package-
    * private `Dataset.ofRows`, needed to expose custom operators
    * (graft.plans.*) through the public DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until Spark's listener bus has delivered every queued
    * event, so listener-collected numbers are complete when read. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
