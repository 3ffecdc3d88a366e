package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is Spark-internal; a spec that counts listener events
  * must read its counters only after every event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
