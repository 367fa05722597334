package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * listener's view of a finished action is complete before it is read.
  * Lives in Spark's package because the listener bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
