package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so
  * per-op Spark counters are complete when the op's numbers are read.
  * Lives under org.apache.spark because the listener bus is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
