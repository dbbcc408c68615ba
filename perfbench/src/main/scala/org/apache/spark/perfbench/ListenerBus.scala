package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read after a key include all of that key's events. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
