package org.apache.spark

/** Doorway to the one `private[spark]` call the traced run needs:
  * listener events are delivered asynchronously, so the collector
  * drains the bus before it reads its counters. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
