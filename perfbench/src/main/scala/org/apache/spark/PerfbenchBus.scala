package org.apache.spark

/** The listener bus's drain call is package-private to Spark; this object is
  * the benchmark's one window onto it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
