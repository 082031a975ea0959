package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The benchmark's bridge into `private[spark]` listener-bus draining:
  * the ledger reads its counters only after every queued event has
  * been delivered. */
object BusBridge {
  def flush(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
