package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression<->Column bridge. Spark 4 split the public Column API from
  * catalyst Expressions and made the converters private[sql]; third-party
  * native expressions still need both directions, so this lives in an
  * org.apache.spark.sql subpackage on purpose (the standard extension
  * seam — same access level the built-in functions use).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a (resolved) logical plan back into a DataFrame — the inverse
    * seam custom operators need (Dataset.ofRows is private[sql]). */
  def dataFrame(spark: org.apache.spark.sql.SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
