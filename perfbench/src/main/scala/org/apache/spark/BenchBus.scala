package org.apache.spark

/** Waits until every listener has seen every event posted so far. The
  * traced run calls it before it writes its spans, so no job, stage or
  * execution callback is still queued on the listener bus.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
