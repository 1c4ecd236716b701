package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark needs it
  * so a span's counts are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
