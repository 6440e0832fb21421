package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run waits for every task-end event to be delivered before
  * it reads the listener's totals. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
