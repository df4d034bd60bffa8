package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; metrics read right
  * after a job must wait for the bus to empty (package-private API). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
