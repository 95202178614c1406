package org.apache.spark

/** Spark's listener bus is `private[spark]`; the benchmark's traced
  * passes need to wait until every posted event has reached its
  * listeners before they read the per-key sums.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
