package org.apache.spark

/** Test access to the listener-bus drain, which Spark keeps
  * package-private. Listener events are delivered asynchronously; a
  * counter read right after an action can miss the action's last
  * events. Draining first makes per-call job counts exact. */
object TestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
