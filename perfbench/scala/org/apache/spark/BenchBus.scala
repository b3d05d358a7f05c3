package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's per-op job counters are complete before it reads them.
  * Lives in `org.apache.spark` because the bus is package-private.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
