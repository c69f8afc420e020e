package org.apache.spark

/** The one Spark-internal call the tracer needs: block until the
  * listener bus has delivered every event posted so far, so span totals
  * read after an op include all of that op's tasks. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
