package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; counts a listener
  * keeps must be read only after the bus has emptied (`listenerBus`
  * is package-private to Spark). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
