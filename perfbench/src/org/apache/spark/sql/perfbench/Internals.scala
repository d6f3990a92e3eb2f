package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads, which Spark keeps
  * package-private. */
object Internals {
  /** Waits until every listener has seen every event posted so far:
    * listener callbacks arrive asynchronously. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The query an execution-end event belongs to (set in this JVM only).
    * Unlike a QueryExecutionListener callback, the event also carries
    * the execution id that the execution's jobs carry. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
