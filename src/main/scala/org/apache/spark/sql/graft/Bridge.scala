package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Spark Connect unification); the supported extension
  * pattern for libraries shipping custom Catalyst expressions is a bridge
  * in the `org.apache.spark.sql` package namespace. Also the one door to
  * the `private[spark]` listener bus, and to `private[sql]` session
  * cloning and plan re-binding.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached its listeners:
    * listener counters read after this miss nothing. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A child of `spark` holding copies of its SQL conf, temporary views
    * and query-execution listeners: names bound in the child stay its own,
    * while its queries run on the same context and catalog, under the same
    * conf, seen by the same listeners. */
  def childSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`, analyzed in whatever session made it, as a frame of `spark`:
    * its names stay bound as they were, and its executions are `spark`'s
    * (its listeners, its observations). */
  def adopt(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
