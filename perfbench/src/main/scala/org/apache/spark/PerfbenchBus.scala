package org.apache.spark

/** Waits until every queued listener event is delivered, so stage
  * metrics are complete when a job returns. `listenerBus` is
  * package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
