package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event already posted to the listener bus has been
  * delivered, so the trace collectors have seen a span's jobs before
  * the span is closed. The bus is only reachable from Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
