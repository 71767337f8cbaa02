package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a roll-up read right
  * after an action may miss its last task ends. Draining the bus is
  * package-private to Spark, hence this bridge. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
