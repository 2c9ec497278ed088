package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkRuntimeException
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column↔Expression conversion private[sql]
  * (org.apache.spark.sql.classic.ExpressionUtils), and with it the
  * LogicalPlan→DataFrame constructor and the `raise_error` exception.
  * This bridge re-exports what graft needs to surface native Catalyst
  * expressions as user-facing Columns, its own logical nodes as
  * DataFrames, and `raise_error`'s failure from its own operators.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A lazy DataFrame over `plan` (analysed, not executed). */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The exception `raise_error(msg)` throws. */
  def raiseError(msg: String): RuntimeException =
    new SparkRuntimeException("USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))
}
