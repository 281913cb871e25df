package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on a background thread; counters read
  * right after an action must wait for the bus to catch up. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
