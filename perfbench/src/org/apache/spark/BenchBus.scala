package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it so a
  * span's totals are read only after every event of its jobs was delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
