package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the tracer needs. */
object SparkInternals {
  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an execution-end event belongs to (null for
    * executions Spark posts without one), which ties a
    * QueryExecutionListener callback to its SQL execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
