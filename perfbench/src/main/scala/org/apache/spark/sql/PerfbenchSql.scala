package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries its QueryExecution in a
  * package-private field; the benchmark uses it to tie the planning
  * tracker a QueryExecutionListener reports to the SQL execution id its
  * jobs carry. */
object PerfbenchSql {
  /** (execution id, identity hash of its QueryExecution) of a finished execution. */
  def executionEnd(e: SparkListenerEvent): Option[(Long, Int)] = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null =>
      Some((x.executionId, System.identityHashCode(x.qe)))
    case _ => None
  }
}
