package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Converts between a Column and its Catalyst expression, so a graft helper
  * can build its expression directly from the argument columns. Spark keeps
  * both conversions `private[sql]` in package `classic`, hence this package.
  * `expression` converts eagerly (`classic.ExpressionUtils.expression`
  * defers it to analysis), so a builder can read its literal arguments. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
}
