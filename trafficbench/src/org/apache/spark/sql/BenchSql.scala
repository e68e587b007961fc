package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL execution-end event reports (package-private in
  * Spark): it ties the benchmark's query listener, which sees the query,
  * to the execution id, which carries the span's job group. */
object BenchSql {
  def query(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
