package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads: the query
  * execution an SQL-execution-end event carries (to join a
  * QueryExecutionListener callback to its execution id), and waiting
  * until every queued listener event has been delivered.
  */
object PerfbenchAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
