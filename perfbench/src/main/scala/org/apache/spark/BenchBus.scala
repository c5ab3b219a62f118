package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener events are delivered asynchronously; a counter read right
  * after an action can miss the action's last stage and task events.
  * Draining first makes per-request counts exact. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
