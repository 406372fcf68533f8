package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Catalyst expression conversion, which Spark keeps
  * package-private (`classic.ExpressionUtils`): lets the engine bind
  * its native expressions (`graft.functions.Native`) straight into a
  * `Column`, so they run in every session, with or without the
  * function registry that `GraftExtensions` fills for SQL text. */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
