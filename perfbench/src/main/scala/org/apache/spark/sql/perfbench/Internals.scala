package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two hooks the benchmark's tracer needs that Spark keeps
  * package-private.
  */
object Internals {

  /** Wait until every listener has seen every posted event, so traced
    * counts are complete when they are read.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's `QueryExecution` — the same object Spark
    * hands to every `QueryExecutionListener` — together with its
    * execution id, which the listener callback does not carry.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
