package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run reads, which Spark keeps
  * package-private.
  */
object Internals {

  /** Blocks until every event posted so far reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time of the execution that ended:
    * the `QueryExecution` an end event carries is the one the session's
    * `QueryExecutionListener`s receive (`QueryExecution.id` is not the SQL
    * execution id, so the listener alone cannot name the execution).
    */
  def planSeconds(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum / 1e3)
}
