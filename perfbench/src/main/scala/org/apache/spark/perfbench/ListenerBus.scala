package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The traced run attributes listener events to the query that caused
  * them, so it waits for the (asynchronous) listener bus to deliver every
  * event posted so far before the next query starts. The wait is not
  * public API; this package gives the benchmark access to it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
