package org.apache.spark

/** Spark's listener bus is private to the `spark` package; specs that
  * count scheduler events wait for every queued event before reading.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
