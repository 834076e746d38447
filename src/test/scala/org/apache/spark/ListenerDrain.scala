package org.apache.spark

/** Test access to the listener bus drain (`private[spark]`): listener
  * events arrive asynchronously, so a count taken by a SparkListener is
  * complete only once every posted event has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
