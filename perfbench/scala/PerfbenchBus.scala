package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so a span's
  * task metrics are complete when it is recorded.  Lives in
  * `org.apache.spark` because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
