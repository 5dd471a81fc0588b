package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the tracer reads, both package-private in
  * Spark: the listener bus (to wait until every event is delivered) and
  * the query an SQL execution-end event carries (for its planning phases).
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Seconds the query spent in the phases its `QueryPlanningTracker`
    * records (parsing, analysis, optimization, physical planning).
    */
  def planningSeconds(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum / 1e3)
}
