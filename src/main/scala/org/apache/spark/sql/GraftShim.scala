package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's sql-private Column ↔ Expression conversions
  * (`org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]`).
  * The standard pattern for libraries that ship custom Catalyst
  * expressions without going through the function registry.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
