package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a per-op reading of the
  * benchmark's listeners is only complete once the bus has delivered
  * everything posted so far. The bus is `private[spark]`, hence this
  * package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
