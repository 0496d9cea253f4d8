package org.apache.spark

/** Listener events reach listeners asynchronously. Per-operation counters
  * are only complete once the bus has drained, and the drain is
  * package-private to Spark, so this one-line bridge lives in Spark's
  * package (the same hook Spark's own test suites use). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
