package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before and after (`waitUntilEmpty` is `private[spark]`, hence the
  * package), so no event of an earlier block is counted and none of this
  * block's is missed.
  */
object JobCount {
  def apply[A](sc: SparkContext)(f: => A): (A, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = f
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }
}
