package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the tracer needs, which Spark keeps package-private. */
object Bridge {
  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an SQL-execution-end event reports on. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
