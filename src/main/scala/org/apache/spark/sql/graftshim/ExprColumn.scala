package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Catalyst `Expression` <-> `Column` for `graft.functions`; the package is
  * here because `classic.ExpressionUtils` is private to `org.apache.spark.sql`. */
object ExprColumn {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
