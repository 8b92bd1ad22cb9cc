package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end event of a SQL execution carries its QueryExecution (the same
  * object a QueryExecutionListener is handed), but only inside Spark's sql
  * package. A QueryExecution's own id is not the execution id its jobs
  * carry, so the traced run reads the plan here, keyed by execution id. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
