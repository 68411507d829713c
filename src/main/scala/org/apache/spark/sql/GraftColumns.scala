package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a Column — the conversion Spark keeps
  * package-private — so `graft.ops` can put the native expressions of
  * `graft.functions` into DataFrame code without a function registry. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
