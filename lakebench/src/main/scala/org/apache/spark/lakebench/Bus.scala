package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which is `private[spark]`: the traced
  * run must see every task-end event of its measured work before it writes
  * the trace out. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
