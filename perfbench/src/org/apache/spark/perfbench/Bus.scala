package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's listeners (`listenerBus` is
  * private to Spark). */
object Bus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
