package org.apache.spark

/** The listener bus's drain is `private[spark]`; specs that count jobs
  * need it so every event is delivered before they read the count. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
