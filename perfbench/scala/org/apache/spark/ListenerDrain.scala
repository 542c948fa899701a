package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's scheduler listener is complete before its records are read.
  * Lives in Spark's package because the bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
