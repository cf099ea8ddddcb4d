package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]` in
  * Spark 4, so this shim lives under the org.apache.spark.sql package —
  * the standard pattern for third-party Catalyst extensions (the pre-4.0
  * equivalents were the public `new Column(expr)` / `col.expr`).
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Flush pending listener-bus events (test support: stage/job counting
    * listeners see all events from completed actions before asserting).
    * `listenerBus` is private[spark]; this shim lives in a spark
    * subpackage for the same reason the Column bridge does.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
                           timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The shuffle-dependency id a submitted stage writes (None for result
    * stages) — `private[spark]`; test support for counting DISTINCT
    * shuffles a pipeline actually executes.
    */
  def shuffleDepId(si: org.apache.spark.scheduler.StageInfo): Option[Int] =
    si.shuffleDepId
}
