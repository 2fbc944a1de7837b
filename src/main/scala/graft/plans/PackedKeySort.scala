package graft.plans

import java.util.concurrent.TimeUnit.NANOSECONDS

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, NullsFirst, RowOrdering, SortOrder, SortPrefix, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, GraftSorterBridge, PartialReducerPartitionSpec, SortExec, SortPrefixUtils, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.util.collection.unsafe.sort.{RecordComparator, UnsafeExternalSorter, UnsafeSorterIterator}

/** Multi-key sort on a packed, order-preserving 64-bit prefix.
  *
  * Spark radix-sorts only single-key orders; every multi-key `SortExec`
  * falls back to TimSort on a prefix built from the first key alone, so a
  * low-cardinality first key (q08's `l_suppkey`) leaves thousands of rows
  * per prefix to full-row comparisons. This operator packs the first two
  * keys into one 64-bit prefix ([[KeyPacker]]), radix-sorts the rows on it
  * with Spark's `UnsafeExternalSorter`, and then puts each run of rows
  * with equal prefixes in order with the full ordering
  * ([[TieRunIterator]]). The packed key is monotone (never contradicts the
  * sort order) but not necessarily distinct, so the output order is
  * exactly that of `SortExec`.
  *
  * The sorter is the one `UnsafeExternalRowSorter` wraps, configured the
  * same way except for two things. Its record comparator is a no-op,
  * because equal-prefix rows are ordered afterwards. Its pointer array is
  * sized up front from the shuffle statistics of the partition it sorts
  * ([[PackedKeySortExec.expectedRows]]): radix sort needs 32 B of array
  * per row against TimSort's 24 B, and growing it by doubling would make
  * the sorter spill where `SortExec` does not.
  *
  * Memory stays bounded: a run of equal prefixes longer than
  * [[PackedKeySortExec.MaxTieRows]] goes to a spillable TimSort sorter
  * on the full ordering, configured as `SortExec`'s. Spilled radix runs
  * merge by prefix, so equal-prefix runs stay contiguous and the same
  * pass orders them. `spillSize` counts what every sorter spills over
  * its whole life, including spills forced while its output is read.
  *
  * [[PackedKeySort]] installs the operator as a query-stage preparation
  * rule, so it applies wherever adaptive execution plans the query; plans
  * outside it (non-adaptive streaming micro-batches, exchange-free plans)
  * keep `SortExec`.
  *
  * `testSpillFrequency` > 0 forces a spill every that many input rows, as
  * the `SortExec` parameter of the same name does; only tests set it.
  */
final case class PackedKeySortExec(
    sortOrder: Seq[SortOrder],
    global: Boolean,
    child: SparkPlan,
    testSpillFrequency: Int = 0) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = sortOrder
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (global) OrderedDistribution(sortOrder) :: Nil else UnspecifiedDistribution :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "sortTime" -> SQLMetrics.createTimingMetric(sparkContext, "sort time"),
    "peakMemory" -> SQLMetrics.createSizeMetric(sparkContext, "peak memory"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"))

  override protected def doExecute(): RDD[InternalRow] = {
    val sortTime = longMetric("sortTime")
    val peakMemory = longMetric("peakMemory")
    val spillSize = longMetric("spillSize")
    val expected = PackedKeySortExec.expectedRows(child)
    child.execute().mapPartitionsWithIndex({ (part, iter) =>
      // spill over each sorter's whole life: a sorter spills while it is
      // filled, and again while its output is read whenever an operator
      // above asks for memory it holds
      val sorters = ArrayBuffer.empty[UnsafeExternalSorter]
      TaskContext.get().addTaskCompletionListener[Unit](_ => spillSize += sorters.map(_.getSpillSize).sum)
      // sort time and peak memory of one sorter's fill and sort, as
      // SortExec counts them
      def counted[T](sorter: UnsafeExternalSorter)(sort: => T): T = {
        sorters += sorter
        val sorted = sort
        sortTime += NANOSECONDS.toMillis(sorter.getSortTimeNanos)
        peakMemory += sorter.getPeakMemoryUsedBytes
        GraftSorterBridge.incPeakExecutionMemory(sorter.getPeakMemoryUsedBytes)
        sorted
      }
      val packer = new KeyPacker(sortOrder, output)
      val pageSize = SparkEnv.get.memoryManager.pageSizeBytes
      val sorter = GraftSorterBridge.radixSorter(
        PackedKeySortExec.pointerSlots(expected.flatMap(_.lift(part))), pageSize)
      val radixSorted = counted(sorter) {
        var inserted = 0L
        while (iter.hasNext) {
          val row = iter.next().asInstanceOf[UnsafeRow]
          sorter.insertRecord(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes,
            packer.pack(row), false)
          inserted += 1
          if (testSpillFrequency > 0 && inserted % testSpillFrequency == 0) sorter.spill()
        }
        sorter.getSortedIterator
      }
      // a stock sorter for one over-long equal-prefix run: the full
      // ordering, prefixed on the first key the packed prefix leaves open
      def sortOverflow(open: Int)(fill: (UnsafeRow => Unit) => Unit): Iterator[InternalRow] = {
        val head = BindReferences.bindReference(sortOrder(open), output)
        val prefixExpr = SortPrefix(head)
        val prefixProj = UnsafeProjection.create(Seq(prefixExpr))
        val ordering = RowOrdering.create(sortOrder, output)
        val s = GraftSorterBridge.sorter(() => new RowComparator(ordering, output.length),
          SortPrefixUtils.getPrefixComparator(head),
          open == sortOrder.length - 1 && SortPrefixUtils.canSortFullyWithPrefix(head),
          GraftSorterBridge.DefaultInitialSize, pageSize)
        counted(s) {
          fill { row =>
            val k = prefixProj(row)
            val isNull = k.isNullAt(0)
            s.insertRecord(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes,
              if (isNull) prefixExpr.nullValue else k.getLong(0), isNull)
          }
          new SortedRows(s, output.length)
        }
      }
      new TieRunIterator(sorter, radixSorted, packer, RowOrdering.create(sortOrder, output),
        output.length, sortOverflow)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PackedKeySortExec =
    copy(child = newChild)
}

object PackedKeySortExec {
  /** Longest equal-prefix run ordered in memory; a longer run goes to a
    * spillable sorter, so a saturated key costs time, never memory. */
  val MaxTieRows: Int = 4096

  /** Headroom over the expected row count when sizing the pointer array:
    * the estimate splits rows by shuffle bytes, which track rows closely
    * but not exactly. */
  private val RowSlack = 1.05

  /** Expected rows in each output partition of `plan`, when `plan` reads a
    * materialized shuffle stage: the stage's row count split in proportion
    * to the bytes each partition reads. */
  private[plans] def expectedRows(plan: SparkPlan): Option[Array[Long]] = {
    def split(stage: ShuffleQueryStageExec)(bytesOf: Array[Long] => Seq[Long]) = for {
      stats <- stage.mapStats
      rows <- stage.getRuntimeStatistics.rowCount
    } yield {
      val bytes = stats.bytesByPartitionId
      val total = BigInt(math.max(1L, bytes.sum))
      bytesOf(bytes).map(b => (rows * b / total).toLong).toArray
    }
    plan match {
      case s: ShuffleQueryStageExec if s.isMaterialized => split(s)(_.toSeq)
      case AQEShuffleReadExec(s: ShuffleQueryStageExec, specs) if s.isMaterialized =>
        val read = specs.collect {
          case c: CoalescedPartitionSpec => (b: Array[Long]) =>
            b.slice(c.startReducerIndex, c.endReducerIndex).sum
          case p: PartialReducerPartitionSpec => (_: Array[Long]) => p.dataSize
        }
        if (read.length == specs.length) split(s)(b => read.map(_(b))) else None
      case _ => None
    }
  }

  /** Initial size of the radix sorter's pointer array, in the unit
    * `UnsafeExternalSorter` takes: radix sort holds one record per four
    * slots, and the array is allocated with twice the slots asked for.
    * The size holds even for a partition too big for its task's memory:
    * the sorter allocates its initial array again after each spill, and
    * starting such a partition from the default size instead spilled more,
    * not less (SCALE.md, packed-key sort, q08 at 64×). */
  private[graft] def pointerSlots(expectedRows: Option[Long]): Int =
    expectedRows.filter(_ > 0).fold(GraftSorterBridge.DefaultInitialSize) { rows =>
      math.min(1L << 30, math.max(GraftSorterBridge.DefaultInitialSize.toLong,
        (2 * rows * RowSlack).toLong)).toInt
    }

  /** Key types whose values pack into a 32-bit monotone slice. */
  def packable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | DateType | LongType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Sorts the operator takes over: at least two keys, the first two
    * packable. Single-key sorts are left to Spark, which radix-sorts them. */
  def eligible(order: Seq[SortOrder]): Boolean =
    order.length >= 2 && order.take(2).forall(o => packable(o.dataType))
}

/** Replaces an eligible `SortExec` with [[PackedKeySortExec]]. Injected by
  * [[graft.functions.GraftExtensions]] as a query-stage preparation rule. */
object PackedKeySort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case SortExec(order, global, child, 0) if PackedKeySortExec.eligible(order) =>
      PackedKeySortExec(order, global, child)
  }
}

/** Packs the first two sort keys of a row into an unsigned 64-bit prefix
  * whose order never contradicts the sort order.
  *
  * Each key maps to a 32-bit unsigned slice:
  *  - byte, short, int and date values map exactly (sign bit flipped);
  *  - long values are clamped to the int range: keys, counts and ids
  *    inside it stay exact; values outside, such as 64-bit hashes, land
  *    on an end slice, where the slice orders nothing (a hashed second
  *    key leaves the prefix to the first key alone);
  *  - timestamps are shifted right by [[KeyPacker.TsShift]] bits (4.2 s
  *    buckets over the years 1685–2255, clamped outside) — microsecond
  *    values never fit 32 bits, so no exact mapping exists for them;
  *  - DESC complements the slice; nulls take the end slice their
  *    `NullOrdering` names, which they share with the extreme value.
  *
  * The first slice is exact only on interior slots: the two end slots
  * collect nulls, extreme and clamped values, and a shifted timestamp is
  * never exact. When the first slice is not exact the second slice is
  * forced to zero, so rows whose first keys differ never order by their
  * second keys; they tie on the prefix and the full ordering decides.
  */
private[graft] final class KeyPacker(order: Seq[SortOrder], output: Seq[Attribute]) {
  import KeyPacker._

  val numSortKeys: Int = order.length
  private val keys = order.take(2)
  private val proj = UnsafeProjection.create(keys.map(_.child), output)
  private val kinds = keys.map(_.dataType).map {
    case ByteType => ByteKey
    case ShortType => ShortKey
    case IntegerType | DateType => IntKey
    case LongType => LongKey
    case _ => TsKey
  }.toArray
  private val desc = keys.map(_.direction != Ascending).toArray
  private val nullSlice = keys.map(k => if (k.nullOrdering == NullsFirst) 0L else Top).toArray

  private def slice(k: UnsafeRow, i: Int): Long =
    if (k.isNullAt(i)) nullSlice(i)
    else {
      val v: Long = kinds(i) match {
        case ByteKey => k.getByte(i)
        case ShortKey => k.getShort(i)
        case IntKey => k.getInt(i)
        case LongKey => k.getLong(i)
        case _ => k.getLong(i) >> TsShift
      }
      val u = math.max(Int.MinValue, math.min(Int.MaxValue, v)) - Int.MinValue.toLong
      if (desc(i)) Top - u else u
    }

  /** The packed prefix of `row`. */
  def pack(row: InternalRow): Long = {
    val k = proj(row)
    val hi = slice(k, 0)
    val lo = if (exact(hi, 0)) slice(k, 1) else 0L
    (hi << 32) | lo
  }

  /** Whether `s`, the slice of key `i`, holds exactly one key value. */
  private def exact(s: Long, i: Int): Boolean =
    kinds(i) != TsKey && s != 0L && s != Top

  /** How many leading sort keys `prefix` fixes to one value each (0–2):
    * rows sharing the prefix are ordered from this key on. */
  def fixedKeys(prefix: Long): Int =
    if (!exact(prefix >>> 32, 0)) 0
    else if (!exact(prefix & Top, 1)) 1
    else 2
}

private[graft] object KeyPacker {
  private val Top = 0xFFFFFFFFL
  /** Bits a microsecond timestamp is shifted right by to fit a slice. */
  val TsShift = 22
  // key kinds, by how a value is read and reduced to a slice
  private final val ByteKey = 0
  private final val ShortKey = 1
  private final val IntKey = 2
  private final val LongKey = 3
  private final val TsKey = 4
}

/** The streaming pass: reads rows in packed-prefix order and emits every
  * run of equal prefixes in full sort order. A run is copied and sorted
  * in memory up to [[PackedKeySortExec.MaxTieRows]] rows; a longer one is
  * fed to a spillable sorter. A single-row run is emitted from a
  * reused holder, valid until the next call, as Spark's row contract
  * allows. The radix sorter's memory is released once it is drained. */
private[plans] final class TieRunIterator(
    sorter: UnsafeExternalSorter,
    sorted: UnsafeSorterIterator,
    packer: KeyPacker,
    ordering: Ordering[InternalRow],
    numFields: Int,
    sortOverflow: Int => ((UnsafeRow => Unit) => Unit) => Iterator[InternalRow])
  extends Iterator[InternalRow] {
  import PackedKeySortExec.MaxTieRows

  // two holders: the row handed out last and the row read ahead
  private var ahead: UnsafeRow = newHolder()
  private var spare: UnsafeRow = newHolder()
  private val loaded = new UnsafeRow(numFields)
  private var aheadKey = 0L
  private var hasAhead = false
  private val run = new Array[InternalRow](MaxTieRows)
  private var pos = 0
  private var len = 0
  private var overflow: Iterator[InternalRow] = Iterator.empty
  advance()

  private def newHolder(): UnsafeRow = {
    val r = new UnsafeRow(numFields)
    r.pointTo(new Array[Byte](0), 0)
    r
  }

  private def advance(): Unit = {
    hasAhead = sorted.hasNext
    if (hasAhead) {
      sorted.loadNext()
      loaded.pointTo(sorted.getBaseObject, sorted.getBaseOffset, sorted.getRecordLength)
      ahead.copyFrom(loaded)
      aheadKey = sorted.getKeyPrefix
    } else sorter.cleanupResources()
  }

  override def hasNext: Boolean = pos < len || overflow.hasNext || hasAhead

  override def next(): InternalRow = {
    if (pos < len) { pos += 1; run(pos - 1) }
    else if (overflow.hasNext) overflow.next()
    else { nextRun(); next() }
  }

  private def nextRun(): Unit = {
    if (!hasAhead) throw new NoSuchElementException
    val key = aheadKey
    val first = ahead
    ahead = spare
    spare = first
    advance()
    pos = 0
    run(0) = first
    len = 1
    // a prefix that fixes every sort key holds rows equal in the order:
    // each is emitted as a run of its own, however many share the prefix
    val open = packer.fixedKeys(key)
    if (open < packer.numSortKeys) {
      while (hasAhead && aheadKey == key && len < MaxTieRows) {
        run(len) = ahead.copy()
        len += 1
        advance()
      }
      if (hasAhead && aheadKey == key) {
        overflow = sortOverflow(open) { insert =>
          var i = 0
          while (i < len) { insert(run(i).asInstanceOf[UnsafeRow]); run(i) = null; i += 1 }
          while (hasAhead && aheadKey == key) { insert(ahead); advance() }
        }
        len = 0
      } else if (len > 1) {
        java.util.Arrays.sort(run, 0, len, ordering)
      }
    }
  }
}

/** Orders two records as `ordering` orders the rows they hold. */
private[plans] final class RowComparator(ordering: Ordering[InternalRow], numFields: Int)
  extends RecordComparator {
  private val left = new UnsafeRow(numFields)
  private val right = new UnsafeRow(numFields)

  override def compare(l: AnyRef, lOff: Long, lLen: Int, r: AnyRef, rOff: Long, rLen: Int): Int = {
    left.pointTo(l, lOff, lLen)
    right.pointTo(r, rOff, rLen)
    ordering.compare(left, right)
  }
}

/** The sorted rows of `sorter`, each valid until the next call. The last
  * row is copied before the sorter's memory is released. */
private[plans] final class SortedRows(sorter: UnsafeExternalSorter, numFields: Int)
  extends Iterator[InternalRow] {
  private val sorted = sorter.getSortedIterator
  private var row = new UnsafeRow(numFields)
  if (!sorted.hasNext) sorter.cleanupResources()

  override def hasNext: Boolean = sorted.hasNext

  override def next(): InternalRow = {
    sorted.loadNext()
    row.pointTo(sorted.getBaseObject, sorted.getBaseOffset, sorted.getRecordLength)
    if (!sorted.hasNext) {
      row = row.copy()
      sorter.cleanupResources()
    }
    row
  }
}
