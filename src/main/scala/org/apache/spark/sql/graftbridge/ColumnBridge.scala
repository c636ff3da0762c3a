package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** The one sanctioned crossing between graft's native Catalyst
  * expressions and plans and the public DataFrame API. Spark 4 hides
  * the Column ↔ Expression conversion and `Dataset.ofRows` behind
  * `private[sql]` (`org.apache.spark.sql.classic`); living in a
  * subpackage of `org.apache.spark.sql` grants access — the same
  * technique every third-party expression library uses. Nothing else
  * in graft may depend on spark-internal APIs. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an already-analyzed (or rewritten) logical plan. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
