package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the package-private Column↔Expression converters that the
  * Spark 4 Connect refactor moved behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). Needed to expose custom
  * Catalyst Expressions as user-facing Columns.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` with its SQL text parsed now (`expr(...)` columns otherwise parse
    * again in every plan that uses them), by the active session's parser.
    */
  def parsed(c: Column): Column =
    column(classic.ColumnNodeToExpressionConverter(c.node))

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`), so counters read afterwards
    * include every job and task that ran before the call.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
