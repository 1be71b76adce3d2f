package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column <-> Expression conversion `private[sql]`
  * (columnNodeSupport). This bridge re-exposes exactly that pair for
  * graft's custom Catalyst expressions — the same technique every Spark
  * extension library uses to register native expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
