package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-internal fields the benchmark's tracer reads: the query
  * behind a finished SQL execution, and a way to wait until queued
  * listener events have been delivered.
  */
object PerfbenchAccess {
  /** (function name, duration in ns, query) of a finished execution. */
  def finished(e: SparkListenerSQLExecutionEnd): Option[(String, Long, QueryExecution)] =
    Option(e.qe).map(qe => (e.executionName.getOrElse(""), e.duration, qe))

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
