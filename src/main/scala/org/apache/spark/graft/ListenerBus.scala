package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously, so a measurement that reads
  * listener counters waits for the bus to deliver every event posted so
  * far. The wait (`waitUntilEmpty`) is `private[spark]`; this package
  * gives the engine's harness access to it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
