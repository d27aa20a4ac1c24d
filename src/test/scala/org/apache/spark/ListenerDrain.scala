package org.apache.spark

/** Waits until the listener bus has delivered every posted event; lives
  * in Spark's package because the bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
