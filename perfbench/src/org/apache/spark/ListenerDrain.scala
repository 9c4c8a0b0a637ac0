package org.apache.spark

/** The driver's listener bus is package-private in Spark. Draining it
  * at pass boundaries means every event of a pass has reached the
  * benchmark's listeners before the next pass starts. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
