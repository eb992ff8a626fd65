package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a listener (graft.Bench's counters, a test's) has seen
  * the jobs it counts. The bus is only reachable from Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
