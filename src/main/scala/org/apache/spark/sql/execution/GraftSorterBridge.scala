package org.apache.spark.sql.execution

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.internal.config
import org.apache.spark.memory.SparkOutOfMemoryError
import org.apache.spark.util.collection.unsafe.sort.{PrefixComparator, PrefixComparators, RecordComparator, UnsafeExternalSorter}

/** Bridge into sort internals that are private to Spark, for
  * `graft.plans.PackedKeySortExec`: its sorters, configured from the
  * same settings `UnsafeExternalRowSorter` reads, and the task's
  * peak-execution-memory counter, which `SortExec` also feeds. */
object GraftSorterBridge {
  /** The initial pointer-array size every Spark sorter starts from. */
  def DefaultInitialSize: Int =
    SparkEnv.get.conf.get(config.SHUFFLE_SORT_INIT_BUFFER_SIZE).toInt

  /** A record comparator that finds every pair equal. */
  private val NoOrder = new java.util.function.Supplier[RecordComparator] {
    override def get(): RecordComparator = new RecordComparator {
      override def compare(l: AnyRef, lOff: Long, lLen: Int, r: AnyRef, rOff: Long, rLen: Int): Int = 0
    }
  }

  /** A spillable sorter configured from the settings
    * `UnsafeExternalRowSorter` reads. Its pointer array starts at
    * `initialSize`, or at Spark's default when the task cannot get that
    * much memory up front. */
  def sorter(
      comparator: java.util.function.Supplier[RecordComparator],
      prefixComparator: PrefixComparator,
      canUseRadixSort: Boolean,
      initialSize: Int,
      pageSize: Long): UnsafeExternalSorter = {
    val env = SparkEnv.get
    val task = TaskContext.get()
    def create(size: Int) = UnsafeExternalSorter.create(task.taskMemoryManager(),
      env.blockManager, env.serializerManager, task, comparator, prefixComparator, size, pageSize,
      env.conf.get(config.SHUFFLE_SPILL_NUM_ELEMENTS_FORCE_SPILL_THRESHOLD),
      env.conf.get(config.SHUFFLE_SPILL_MAX_SIZE_FORCE_SPILL_THRESHOLD),
      canUseRadixSort)
    try create(initialSize)
    catch { case _: SparkOutOfMemoryError if initialSize > DefaultInitialSize =>
      create(DefaultInitialSize) }
  }

  /** A sorter that radix-sorts records on an unsigned 64-bit prefix
    * alone: records with equal prefixes come out in no particular order,
    * from memory and from merged spills alike. */
  def radixSorter(initialSize: Int, pageSize: Long): UnsafeExternalSorter =
    sorter(NoOrder, new PrefixComparators.UnsignedPrefixComparator, canUseRadixSort = true,
      initialSize, pageSize)

  def incPeakExecutionMemory(bytes: Long): Unit =
    TaskContext.get().taskMetrics().incPeakExecutionMemory(bytes)
}
