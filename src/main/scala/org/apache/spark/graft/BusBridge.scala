package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus. Listener events are
  * delivered asynchronously, so a caller that reads what its listener
  * recorded must first wait until every posted event has been delivered.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
