package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries. It is the same object a
  * QueryExecutionListener receives, so its `id` joins the two listeners'
  * records to the execution id that jobs carry. The field is package-private,
  * hence this bridge. */
object PerfbenchSql {
  def qeOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
