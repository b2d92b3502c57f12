package org.apache.spark

/** The listener bus's drain is package-private in Spark; the benchmark
  * reads its listener's counters only after every posted event is handled.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
