package org.apache.spark

/** The listener bus delivers events on its own thread; the recorder
  * drains it before reading its counters. `listenerBus` is package-private
  * to Spark, hence this one-line shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
