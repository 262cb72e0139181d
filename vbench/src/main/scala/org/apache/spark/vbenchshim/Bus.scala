package org.apache.spark.vbenchshim

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so
  * listener counters are complete before they are read. The bus is
  * `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
