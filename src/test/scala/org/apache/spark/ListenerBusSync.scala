package org.apache.spark

/** Test access to the driver's listener bus: listener events arrive
  * asynchronously, so a spec counting Spark jobs drains the bus before
  * reading its counters. */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
