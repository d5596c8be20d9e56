package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the trace needs, which only code under Spark's
  * own packages may reach. */
object Internals {
  /** Wait until every posted event has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id of the QueryExecution an SQL execution ran: the key that links
    * a QueryExecutionListener callback to its execution id (and so to the
    * job group the execution started under). */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
