package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not expose: the bus is
  * asynchronous, so a reader of listener counters must wait for it to
  * drain before the counts are complete. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
