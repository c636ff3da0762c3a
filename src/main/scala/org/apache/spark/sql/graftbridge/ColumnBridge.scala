package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

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

  /** `f` over each partition of `df`'s internal rows, read back as a
    * DataFrame of the same schema. Building it plans `df` (under
    * adaptive execution that already runs `df`'s shuffle stages), so
    * materialize the result rather than reading it twice. The rows `f`
    * sees are reused by the scan: copy any value it keeps
    * (`InternalRow.copyValue`). */
  def mapInternalPartitions(df: DataFrame)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.mapPartitions(f), ds.schema)
  }

  /** Spark's own total order on internal values of `dt` — the order
    * `least`, `greatest`, `min` and `max` use. */
  def ordering(dt: DataType): Ordering[Any] = PhysicalDataType.ordering(dt)
}
