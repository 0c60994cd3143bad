package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The Column ↔ Catalyst Expression bridge for graft's custom functions.
  * Spark 4 keeps both conversions `private[sql]`, so this object lives in
  * the `sql` package and re-exports them: a Column entry point wraps its
  * expression directly instead of registering a function name in the
  * session and calling it by name. */
object GraftExpressions {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
