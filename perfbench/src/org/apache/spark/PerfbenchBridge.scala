package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * asynchronous listener bus has delivered every queued event, so the
  * traced run's counters are complete before they are read. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
