package org.apache.spark

/** Spark's listener bus is asynchronous; counters read from listeners are
  * only complete once every posted event is delivered. `waitUntilEmpty` is
  * package-private, hence this bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
