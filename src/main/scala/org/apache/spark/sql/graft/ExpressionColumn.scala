package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression as a `Column`, and back. Spark keeps this
  * conversion package-private; graft needs it for expressions that
  * carry a driver-side value no SQL function argument can hold
  * (`graft.functions.CentroidSet`).
  */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression of `c`. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
