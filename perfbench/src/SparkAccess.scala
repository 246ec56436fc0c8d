package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark handles the traced run needs: draining the
  * listener bus, so every event of a run is counted before it reports, and
  * the QueryExecution an SQL-execution-end event carries, whose execution
  * id is what ties Catalyst's phase times to the jobs they planned.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
