package org.apache.spark

/** The listener bus is private to Spark; the benchmark must see every
  * event before it writes its report. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
