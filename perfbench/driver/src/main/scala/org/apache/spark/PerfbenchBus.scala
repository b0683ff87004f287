package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so a harvest after an op sees every event that op caused. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
