package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus. Listeners receive
  * events asynchronously, so a count read before the bus has delivered
  * every posted event can miss the last jobs.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
