package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Visibility bridge to the `private[spark]` listener bus: the harness
  * reads its listeners' ledgers only after every posted event has been
  * delivered, so counts never miss the tail of a run. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
