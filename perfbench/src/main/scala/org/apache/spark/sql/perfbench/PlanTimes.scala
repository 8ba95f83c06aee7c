package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning time of a finished SQL execution. The end event carries its
  * `QueryExecution` in a `private[sql]` field, so the read lives in this
  * package. */
object PlanTimes {
  /** Optimization + physical planning milliseconds recorded by the
    * execution's planning tracker, if the event carries its query. */
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map { qe =>
      val phases = qe.tracker.phases
      Seq("optimization", "planning").flatMap(phases.get)
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    }
}
