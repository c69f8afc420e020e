package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Number of Spark jobs `body` launches. The listener bus delivers
  * events asynchronously, so the count is read only after the bus has
  * drained every event posted by `body`. */
object JobCounter {
  def jobs(sc: SparkContext)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try { body; sc.listenerBus.waitUntilEmpty(); n.get }
    finally sc.removeSparkListener(l)
  }
}
