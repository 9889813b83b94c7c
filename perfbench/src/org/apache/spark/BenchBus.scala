package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * listener bus is `private[spark]`, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
