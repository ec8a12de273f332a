package org.apache.spark

/** Lets the harness wait for Spark's asynchronous listener bus to deliver
  * every posted event, so counters read after an operation include it. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
