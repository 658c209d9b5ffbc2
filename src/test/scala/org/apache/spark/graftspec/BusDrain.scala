package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, so a count a spec's
  * listener keeps is complete only once the bus has delivered every
  * event posted so far. The bus is `private[spark]`, hence this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
