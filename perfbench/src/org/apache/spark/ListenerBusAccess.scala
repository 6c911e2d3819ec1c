package org.apache.spark

/** The listener bus delivers events on its own thread; `waitUntilEmpty` is
  * package-private, so this one call lives in Spark's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
