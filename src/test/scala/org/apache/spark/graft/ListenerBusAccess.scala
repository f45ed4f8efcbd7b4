package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so
  * far; Spark keeps the bus package-private.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
