package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every queued
  * event. Spark keeps `listenerBus` package-private, so this one call
  * lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
