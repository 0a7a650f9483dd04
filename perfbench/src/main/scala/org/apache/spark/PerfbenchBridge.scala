package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so per-pass
  * listener totals are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
