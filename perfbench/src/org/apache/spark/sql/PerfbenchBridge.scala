package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two hooks the benchmark's listeners need that Spark keeps package
  * private. */
object PerfbenchBridge {
  /** Wait until every queued listener event has been delivered, so a
    * traced run's attribution sees all of its jobs and tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution behind a SQL execution id (null if unknown):
    * jobs carry the execution id, QueryExecutionListener the query. */
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
