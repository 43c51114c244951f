package org.apache.spark

/** Listener events arrive on the bus thread; a spec that counts them
  * drains the bus first. `listenerBus` is package-private to Spark, hence
  * this shim in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
