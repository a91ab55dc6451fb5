package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * counter read right after an action sees all of that action's tasks.
  * `listenerBus` is `private[spark]`, hence this shim's package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
