package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run reads, both package-private
  * in Spark: the listener bus, which it drains before reading the
  * per-span counters, and the query execution of a finished SQL
  * execution, whose planning-phase times it sums. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Milliseconds in the analysis, optimization and planning phases;
    * None when the event carries no query execution. */
  def planningMs(end: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(end.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
}
