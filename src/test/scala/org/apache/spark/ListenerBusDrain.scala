package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event, so a listener's counters read afterwards include the
  * operation that just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
