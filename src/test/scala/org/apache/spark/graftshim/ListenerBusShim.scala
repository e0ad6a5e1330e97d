package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test bridge to the `private[spark]` listener bus: lets a test wait until
  * every event posted so far has reached its listeners, instead of
  * sleeping. */
object ListenerBusShim {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
