package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so span attribution reads complete counters. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
