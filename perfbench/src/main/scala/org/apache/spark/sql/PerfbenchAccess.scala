package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two things Spark keeps package-private that the benchmark harness
  * needs: the listener bus's drain barrier, so a run reads its
  * listeners only after every event was handled, and the query
  * execution an execution-end event carries, whose planning phases
  * and executed plan the traced run records.
  */
object PerfbenchAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe).filter(_ => e.executionFailure.forall(_ == null))
}
