package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries the `QueryExecution` behind a
  * `private[sql]` field; the collector reads it to link the executions a
  * `QueryExecutionListener` reports to the execution ids on jobs. */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
