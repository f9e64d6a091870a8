package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` members of the classic (in-JVM) API: the
  * Column constructor for the library's custom Catalyst expressions
  * (Spark 4's Column wraps a ColumnNode, not an Expression;
  * `classic.ExpressionUtils` does the conversion but is sql-private),
  * plus the session clone and plan-to-Dataset factory that loop
  * sessions use. Standard extension-library pattern — the same trick
  * third-party Spark connectors use to expose native expressions as
  * Columns.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A new session on the same SparkContext whose SQL conf, temp views
    * and function registry start as copies of `s`'s. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a DataFrame of `target`. */
  def ofRows(target: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(target.asInstanceOf[classic.SparkSession], plan)
}
