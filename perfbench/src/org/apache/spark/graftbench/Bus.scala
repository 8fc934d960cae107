package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits for Spark's listener bus to deliver every posted event, so the
  * benchmark's listeners hold an op's jobs, tasks and planner phases
  * before the op's totals are read. The bus is package-private to Spark.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
