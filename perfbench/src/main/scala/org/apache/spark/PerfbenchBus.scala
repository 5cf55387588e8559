package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener totals only after the bus has drained, and
  * `SparkContext.listenerBus` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
