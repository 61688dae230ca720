package org.apache.spark.sql.servebench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two pieces of Spark state the traced run needs that Spark keeps
  * package-private: draining the listener bus, so every event of the
  * window is seen before attribution, and the planning phases of a
  * finished SQL execution. */
object SparkAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Phase durations (ms) from the execution's QueryPlanningTracker. */
  def phases(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs }).getOrElse(Map.empty)
}
