package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Access shim for `private[sql]` Column↔Expression conversion (the same
  * pattern Delta/Iceberg runtimes use to expose native expressions as
  * Columns in Spark 4, where `new Column(expr)` is no longer public).
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A DataFrame over `plan`, analyzed here (`classic.Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
