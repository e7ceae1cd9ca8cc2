package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until its listeners have seen every event
  * posted so far, so counters are read at the same boundary as spans.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
