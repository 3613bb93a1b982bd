package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; tracing needs to wait until
  * every posted event has reached its listeners before reading them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
