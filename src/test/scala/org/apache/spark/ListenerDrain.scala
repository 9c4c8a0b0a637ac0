package org.apache.spark

/** The driver's listener bus is package-private in Spark. Draining it
  * before and after a block means a spec's listener has seen every
  * event the block caused. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
