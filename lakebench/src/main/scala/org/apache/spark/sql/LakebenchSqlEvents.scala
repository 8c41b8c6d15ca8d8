package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query behind a SQL execution-end event is package-private; the
  * tracer reads it to join a QueryExecutionListener callback (which
  * carries the query) to the execution id (which carries the job
  * tags). */
object LakebenchSqlEvents {
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
