package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test access to the one `private[spark]` call the pipeline specs need. */
object ListenerBus {

  /** Blocks until every listener (the status store included) has seen
    * every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
