package org.apache.spark

/** Listener events reach listeners asynchronously; the traced run waits
  * for the bus to empty before it reads what a query produced.
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
