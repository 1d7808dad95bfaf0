package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the counters read after a timed section are complete. The bus is only
  * reachable from inside the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
