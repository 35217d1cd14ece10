package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listener counts are complete before they are read. The
  * bus is internal to Spark, hence this one-line bridge. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
