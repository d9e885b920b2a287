package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event
  * of a finished operation before it reads its counters. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
