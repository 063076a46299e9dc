package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression conversion for the engine's native
  * expressions (both directions are `private[sql]` in Spark), so the
  * Column API builds them directly instead of by registered SQL name. */
object GraftColumns {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
