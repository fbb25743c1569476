package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the benchmark reads, which Spark scopes to its
  * own packages: the listener-bus drain (so per-operation attribution waits
  * for every posted event instead of sleeping) and the planning phases of a
  * finished SQL execution.
  */
object Access {
  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Planning phases of a finished SQL execution: phase -> (start, end),
    * epoch ms. */
  def planningPhases(e: SparkListenerSQLExecutionEnd): Map[String, (Long, Long)] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) })
      .getOrElse(Map.empty)
}
