package org.apache.spark

/** The one private-to-Spark call the span collector needs: block until the
  * listener bus has delivered every event posted so far, so a span's task
  * metrics are complete before the span is closed.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
