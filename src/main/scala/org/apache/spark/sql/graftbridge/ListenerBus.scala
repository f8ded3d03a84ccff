package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners,
    * so per-job tallies read after an action are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
