package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 routes `Column` through ColumnNode, and the classic
  * converters (`ExpressionUtils`) are `private[sql]`; this shim in the
  * sql package namespace is the standard extension-library pattern for
  * wrapping native expressions as user-facing Columns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Non-blocking Observation read (`getOrEmpty` is private[spark]).
    * Empty until the observed action has completed; callers fall back
    * to a count when it stays empty ([[graft.util.Metrics]]).
    */
  def observedMetrics(o: org.apache.spark.sql.Observation): Map[String, Any] =
    o.getOrEmpty
}
