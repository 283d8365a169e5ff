package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Spark Connect unification); the supported extension
  * pattern for libraries shipping custom Catalyst expressions is a bridge
  * in the `org.apache.spark.sql` package namespace. Also the one door to
  * the `private[spark]` listener bus.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached its listeners:
    * listener counters read after this miss nothing. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
