package org.apache.spark

/** Test bridge into the listener bus, which is private to Spark. */
object ListenerBusDrain {
  /** Blocks until every event posted so far has reached its listeners
    * (query-execution listeners hear about an action asynchronously). */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
