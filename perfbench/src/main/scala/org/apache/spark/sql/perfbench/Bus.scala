package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to Spark internals the traced run reads, which are private to
  * the `spark` packages: the listener bus (counters are read only after
  * every posted event has been delivered) and the query execution an
  * SQL-execution-end event carries (its planning-phase times).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning ms of the ended execution. */
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).fold(0L)(_.tracker.phases.values.map(_.durationMs).sum)
}
