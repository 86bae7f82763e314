package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the harness reads, hence this package: the listener
  * bus, to wait until every posted event has been delivered so the counts
  * read for an op are complete, and the QueryExecution an SQL-execution end
  * event carries, to tie that execution to the span that started it. */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
