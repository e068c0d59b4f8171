package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark needs to wait for it
  * to deliver every event before it reads its listeners' counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
