package org.apache.spark

/** Listener events arrive on the bus thread; a spec that counts them
  * drains the bus first. `listenerBus` is package-private to Spark, hence
  * this shim in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs `f` starts, counted from the listener bus. */
  def jobsStartedBy[A](sc: SparkContext)(f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    apply(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      apply(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
