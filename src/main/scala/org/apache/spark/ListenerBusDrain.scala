package org.apache.spark

/** Bridge to the listener bus: a listener reads its counts only
  * after every event posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
