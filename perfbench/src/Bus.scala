package org.apache.spark

/** Access to the `private[spark]` listener bus: listener events arrive
  * asynchronously, so the harness drains the bus before it reads the
  * probe's counters for an operation that just finished.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
