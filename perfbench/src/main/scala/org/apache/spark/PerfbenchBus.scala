package org.apache.spark

/** Reach-in for the benchmark's listener: `listenerBus` is package-private,
  * and per-op job counts are only complete once every event posted before
  * the op ended has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
