package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark run needs to
  * wait for it so that every counted event belongs to the measured call.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
