package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> catalyst Expression bridge for Spark 4 (where the classic
  * helpers are private[sql]). Standard extension-library technique; its
  * one sibling in the spark namespace is [[org.apache.spark.GraftRddBridge]]. */
object GraftColumnBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
}
