package org.apache.spark

/** The listener bus is `private[spark]`; the tracer needs to wait until
  * every queued event has reached its listener before it reads a span's
  * aggregates, so this one call is re-exported from inside the package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
