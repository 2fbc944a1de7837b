package org.apache.spark

/** The one non-public hook the benchmark needs: listener events are
  * delivered asynchronously, so before a traced pass's listeners are
  * removed (or its spans read) the bus must have delivered everything
  * posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
