package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the two engine internals the benchmark's tracer reads: the
  * QueryExecution carried by an SQL-execution end event (for its planning
  * phase times) and the listener bus drain (so every event of the traced
  * window is delivered before the counters are read). */
object Bridge {

  /** Analysis + optimization + planning time of the execution, in ms. */
  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
      .getOrElse(0.0)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
