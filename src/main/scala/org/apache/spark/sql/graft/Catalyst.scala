package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionColumnNode}

/** Reaches the `private[sql]` bridge between a `Column` and Catalyst's
  * expression tree.
  */
object Catalyst {

  /** `e`, unresolved or not, as a Column the Dataset API analyzes. */
  def column(e: Expression): Column = new Column(ExpressionColumnNode(e))

  /** The expression tree `c` converts to. */
  def expression(c: Column): Expression = ColumnConversions.expression(c)
}
