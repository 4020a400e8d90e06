package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the planning phases of a finished SQL execution; the event's
  * QueryExecution is only visible inside Spark's `sql` package. */
object PerfbenchShim {
  def phases(e: SparkListenerSQLExecutionEnd): Option[Map[String, (Long, Long)]] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) })
}
