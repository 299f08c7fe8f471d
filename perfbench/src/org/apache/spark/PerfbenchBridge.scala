package org.apache.spark

/** Access to the `private[spark]` listener bus: a traced run must see every
  * task-end event of a layer before it reads that layer's counters.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
