package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs started while a block runs. The listener bus delivers
  * events asynchronously, so the count is read only after the bus has
  * drained (a private[spark] call — hence this package). */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      n.get
    } finally sc.removeSparkListener(l)
  }
}
