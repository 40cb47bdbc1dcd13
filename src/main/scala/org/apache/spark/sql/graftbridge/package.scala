package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessors for Spark internals: the `private[sql]` Column ⇄
  * Expression conversions — the supported seam for libraries shipping native
  * Catalyst expressions (Spark 4 moved Column onto ColumnNode;
  * `classic.ExpressionUtils` is the conversion point) — and the
  * `private[spark]` listener bus.
  */
package object graftbridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every posted listener event has been delivered: the bus is
    * asynchronous, so an action can return before its last stage events
    * reach a listener.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
