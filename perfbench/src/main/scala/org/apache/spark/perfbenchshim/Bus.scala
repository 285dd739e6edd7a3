package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the traced run drains
  * it at span boundaries so asynchronous listener events are charged
  * to the span that caused them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
