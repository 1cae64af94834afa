package org.apache.spark

/** Drains the listener bus, so a listener has seen every event posted
  * so far (the bus is private to Spark). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
