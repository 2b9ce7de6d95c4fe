package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column <-> Expression conversion, so the
  * library's Column builders construct their Catalyst expressions directly
  * instead of calling a name in a per-session function registry.
  * `expression` yields a lazy placeholder: the argument Column is converted
  * by the session of whichever DataFrame finally uses the result. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
