package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the traced run reads, hence this package: the
  * listener bus (drained before reading what listeners recorded) and the
  * query execution an SQL-execution-end event belongs to (which ties a
  * `QueryExecutionListener` callback to the execution id its jobs carry).
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
