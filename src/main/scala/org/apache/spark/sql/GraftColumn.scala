package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** A Catalyst expression as a Column, without registering a function in
  * the session. Spark keeps the Expression → Column conversion private
  * to its `sql` package, hence this one-line bridge in it.
  */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
