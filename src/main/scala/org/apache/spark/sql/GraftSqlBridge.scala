package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Column↔Expression converters, the
  * standard pattern for libraries shipping native Catalyst expressions
  * (Spark 4 removed the public `new Column(Expression)` constructor).
  * Only used by graft.functions to expose [[graft.functions.Blake2bHash]]
  * as a `Column` function. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
