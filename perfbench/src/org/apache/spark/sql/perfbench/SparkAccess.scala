package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads: the query
  * execution carried by an SQL-execution-end event (for its planning
  * phases) and a drain of the listener bus before metrics are summed. */
object SparkAccess {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
