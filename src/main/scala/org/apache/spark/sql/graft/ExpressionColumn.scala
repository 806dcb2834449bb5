package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression as a Column: Spark 4 keeps every such
  * constructor `private[sql]`, so this forwarder lives in that package. */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
}
