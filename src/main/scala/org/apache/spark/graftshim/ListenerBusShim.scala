package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: waits until every event
  * posted so far has reached its listeners, so counts a listener keeps
  * are complete when read, with no sleep. Same access pattern as
  * [[SerializableHadoopConf]]. */
object ListenerBusShim {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
