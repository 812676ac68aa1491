package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this package can reach it. */
object Bus {

  /** Block until every event posted so far has reached every
    * listener: after an action returns, its task-end events have
    * been posted, so a listener's counters are then exact. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
