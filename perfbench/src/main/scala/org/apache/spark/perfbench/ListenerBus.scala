package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-internal; the traced run must read span
  * counters only after every job and task event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
