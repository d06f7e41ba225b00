package org.apache.spark

/** Test access to the listener bus: returns once every event posted so
  * far has reached the listeners. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
