package org.apache.spark

/** The listener bus's drain is private to Spark's package; the benchmark
  * needs it so that listener counters are complete when it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
