package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; wait until every event posted
  * so far has been delivered before reading the counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
