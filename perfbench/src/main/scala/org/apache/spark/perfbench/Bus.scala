package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every listener has handled every event posted so far,
    * so counters read afterwards cover all work already finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
