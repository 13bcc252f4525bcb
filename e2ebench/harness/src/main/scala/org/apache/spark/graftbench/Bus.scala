package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` call the tracer needs. */
object Bus {

  /** Blocks until every listener has seen every event posted so far, so
    * counters read afterwards are settled without sleeping. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
