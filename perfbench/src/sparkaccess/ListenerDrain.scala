package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so span
  * counters are complete before they are read. The listener bus is
  * package-private to Spark; this accessor is the only reason the file
  * lives in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
