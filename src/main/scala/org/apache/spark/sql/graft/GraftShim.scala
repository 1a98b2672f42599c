package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (ExpressionUtils in columnNodeSupport.scala), so
  * libraries providing native expressions need this one-file shim inside
  * the org.apache.spark.sql namespace — the standard pattern for Spark
  * extension libraries; no Spark internals are modified.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the ASYNC listener bus has delivered every event posted
    * so far, so a listener's counters are complete for the jobs that
    * already finished (`LiveListenerBus.waitUntilEmpty` is
    * `private[spark]`, hence this namespace).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
