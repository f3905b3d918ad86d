package org.apache.spark

/** Access to Spark's listener bus, which is private to the `spark`
  * package: the tracer waits for every queued event before it reads its
  * spans.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
