package org.apache.spark.memory

import org.apache.spark.TaskContext

/** Test bridge into the task memory manager, which is private to Spark. */
object MemoryHog {
  /** Asks, inside a running task, for more execution memory than any task
    * can hold, then gives back what it got: the task memory manager first
    * spills every other memory consumer of the task. */
  def spillTask(): Unit = {
    val hog = new MemoryConsumer(TaskContext.get().taskMemoryManager(), MemoryMode.ON_HEAP) {
      override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
    }
    hog.freeMemory(hog.acquireMemory(1L << 40))
  }
}
