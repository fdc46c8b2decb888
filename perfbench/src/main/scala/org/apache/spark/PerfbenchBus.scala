package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the benchmark's job listener sees a finished op's jobs complete. The
  * bus is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
