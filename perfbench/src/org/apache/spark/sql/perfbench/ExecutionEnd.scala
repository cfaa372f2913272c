package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the `private[sql]` fields of an execution-end event: the query
  * execution (with its executed plan and SQL metrics) and the duration in
  * nanoseconds. Only events of the local session carry them.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
}
