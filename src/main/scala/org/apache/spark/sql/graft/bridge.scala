package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 made the public `Column` carry an engine-agnostic ColumnNode;
  * the classic-backend converters are `private[sql]`. Custom native
  * expressions still need them, so this one-file shim lives in the
  * `org.apache.spark.sql` namespace — the same pattern OSS Spark
  * extension libraries use. It and `PlanBridge` are the only files of
  * `src/main` in that namespace.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
