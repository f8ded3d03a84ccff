package org.apache.spark

/** Reaches the `private[spark]` listener bus, so the harness can read
  * its listener's tallies only after every event has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
