package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the harness drains it after each
  * timed operation so every event of that operation has been delivered
  * to its listeners before the next operation starts. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
