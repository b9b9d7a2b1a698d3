package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read right after an action include all of that action's task
  * and job events. The bus is package-private; this accessor is the only
  * reason the benchmark has a file in this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
