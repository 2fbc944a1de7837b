package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Descending, NullsFirst, NullsLast, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{GraftSorterBridge, LeafExecNode, SortExec, SparkPlan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import org.scalacheck.rng.Seed

import graft.plans.{KeyPacker, PackedKeySortExec}

/** [[PackedKeySortExec]] against stock `SortExec`: on random rows over
  * every packable key type — nulls, `Int`/`Long` extremes, negative dates
  * and timestamps, heavy duplicates — and random multi-key orders, the
  * operator's output equals `SortExec`'s row for row, through the
  * in-memory path, forced spills and equal-prefix runs past the
  * in-memory bound. */
object PackedKeySortSpec extends Properties("PackedKeySort") {
  import PackedKeySortFixture._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  property("packed prefix never contradicts the sort order") =
    forAllNoShrink(genOrder, Gen.listOfN(60, genRow)) { (order, rows) =>
      val packer = new KeyPacker(order, attrs)
      val ordering = RowOrdering.create(order, attrs)
      val urows = rows.map(unsafe)
      val keys = urows.map(packer.pack)
      val bad = for {
        (a, ka) <- urows.zip(keys); (b, kb) <- urows.zip(keys)
        if ordering.compare(a, b) < 0 && java.lang.Long.compareUnsigned(ka, kb) > 0
      } yield (a, b)
      Prop(bad.isEmpty) :| s"order $order: ${bad.take(1)}"
    }

  property("equals SortExec row for row on random rows and orders") =
    forAllNoShrink(genOrder, genRows(0, 400), Gen.choose(1, 4)) { (order, rows, parts) =>
      agrees(sameOutput(order, rows, parts))
    }

  property("every ASC/DESC x NULLS FIRST/LAST combination on the packed keys") =
    once {
      val rows = genRows(150, 250).pureApply(Gen.Parameters.default, Seed(42))
      for {
        (k1, k2) <- Seq(("i", "t"), ("l", "d"), ("s", "n"), ("t", "b"))
        d1 <- Seq(Ascending, Descending); n1 <- Seq(NullsFirst, NullsLast)
        d2 <- Seq(Ascending, Descending); n2 <- Seq(NullsFirst, NullsLast)
      } yield sameOutput(Seq(SortOrder(attr(k1), d1, n1, Seq.empty),
        SortOrder(attr(k2), d2, n2, Seq.empty)), rows, 2)
    }

  property("forced spills merge equal-prefix runs back in order") =
    forAllNoShrink(genOrder, genRows(50, 400)) { (order, rows) =>
      // spilled runs merge in no fixed order among equal keys: close the
      // order on the unique id so the comparison is row for row
      agrees(sameOutput(order :+ SortOrder(attr("id"), Ascending), rows, 2, spillEvery = 37))
    }

  property("a saturated first key sends one run past the in-memory bound") =
    once {
      // every l lies outside the int range, so the first slice saturates at
      // one end or the other and the rows at each end share one prefix
      val r = new scala.util.Random(7)
      val n = PackedKeySortExec.MaxTieRows * 3 + 123
      val rows = (0 until n).map { id =>
        val l: Any =
          if (r.nextInt(50) == 0) null
          else if (r.nextBoolean()) Int.MaxValue.toLong + 1 + r.nextInt(300)
          else Int.MinValue.toLong - 1 - r.nextInt(300)
        Seq[Any](null, null, r.nextInt(20), l, null, null, null, null, id.toLong)
      }
      for {
        dir <- Seq(Ascending, Descending); nulls <- Seq(NullsFirst, NullsLast)
        spill <- Seq(0, 1000)
      } yield sameOutput(Seq(SortOrder(attr("l"), dir, nulls, Seq.empty),
        SortOrder(attr("i"), Descending), SortOrder(attr("id"), Ascending)), rows, 1, spill)
    }

  property("a two-key order with one exact key pair shared past the bound") =
    once {
      // both keys pack exactly, so the prefix fixes the whole order and the
      // rows sharing it are equal in it; spilled runs merge equal rows in no
      // fixed order, so with spills the output is checked for order and rows
      val n = PackedKeySortExec.MaxTieRows * 3 + 123
      val rows = (0 until n).map { id =>
        val (i, d) = if (id % 97 == 0) (id % 5, -id) else (7, 19000)
        Seq[Any](null, null, i, null, d, null, null, null, id.toLong)
      }
      for {
        dir <- Seq(Ascending, Descending); spill <- Seq(0, 1000)
      } yield sameOutput(Seq(SortOrder(attr("i"), dir), SortOrder(attr("d"), Ascending)),
        rows, 1, spill, anyTieOrder = spill > 0)
    }

  property("a spill forced while the output is read counts in spillSize") =
    once {
      TestSpark.spark
      val order = Seq(SortOrder(attr("i"), Ascending), SortOrder(attr("id"), Ascending))
      val rows = genRows(20000, 20000).pureApply(Gen.Parameters.default, Seed(5))
      val child = RowsExec(attrs, rows.map(unsafe), 1)
      val exec = PackedKeySortExec(order, global = false, child)
      // read 100 rows, then ask for more memory than the task can get,
      // which spills the sorter mid-read, and read the rest back
      val read = exec.execute().mapPartitions { it =>
        val head = it.take(100).map(_.copy()).toVector
        org.apache.spark.memory.MemoryHog.spillTask()
        head.iterator ++ it.map(_.copy())
      }.map(_.asInstanceOf[UnsafeRow]).collect().toSeq
      val want = run(SortExec(order, global = false, child))
      Seq(
        Option.when(read != want)("output differs from SortExec after the spill"),
        Option.when(exec.metrics("spillSize").value <= 0)("spillSize missed the read-time spill"))
    }

  property("the pointer array is sized from the expected rows") =
    once {
      import PackedKeySortExec.pointerSlots
      TestSpark.spark // the default size comes from the running session's conf
      val default = GraftSorterBridge.DefaultInitialSize
      Seq(
        Option.when(pointerSlots(Some(1000000L)) != 2100000)("2.1 slots per expected row"),
        Option.when(pointerSlots(Some(10L)) != default)("never below the default"),
        Option.when(pointerSlots(None) != default)("no statistics: the default"),
        Option.when(pointerSlots(Some(1L << 40)) != (1 << 30))("capped at 2^30"))
    }
}

private object PackedKeySortFixture {
  private lazy val spark = TestSpark.spark

  val attrs: Seq[Attribute] = Seq(
    "b" -> ByteType, "s" -> ShortType, "i" -> IntegerType, "l" -> LongType,
    "d" -> DateType, "t" -> TimestampType, "n" -> TimestampNTZType,
    "str" -> StringType, "id" -> LongType)
    .map { case (n, t) => AttributeReference(n, t)() }
  def attr(name: String): Attribute = attrs.find(_.name == name).get
  private val packedNames = Seq("b", "s", "i", "l", "d", "t", "n")

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 6 -> g)
  private def small(k: Int): Gen[Int] = Gen.choose(-k, k)
  private val tsMin = -62135596800000000L // 0001-01-01
  private val tsMax = 253402300799999999L  // 9999-12-31
  private val tsNear = Gen.choose(0L, 20000000L).map(_ + 1700000000000000L) // same 4 s buckets
  private val genTs: Gen[Long] = Gen.frequency(
    3 -> small(3).map(_.toLong * 86400000000L), 2 -> tsNear,
    2 -> Gen.choose(tsMin, tsMax), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, tsMin, tsMax))

  /** One row: heavy duplicates from small domains, type extremes, nulls. */
  val genRow: Gen[Seq[Any]] = for {
    b <- orNull(Gen.frequency(4 -> small(2).map(_.toByte), 1 -> Gen.oneOf(Byte.MinValue, Byte.MaxValue)))
    s <- orNull(Gen.frequency(4 -> small(2).map(_.toShort), 1 -> Gen.oneOf(Short.MinValue, Short.MaxValue)))
    i <- orNull(Gen.frequency(4 -> small(3), 1 -> Gen.oneOf(Int.MinValue, Int.MaxValue,
      Int.MinValue + 1, Int.MaxValue - 1), 1 -> Gen.choose(Int.MinValue, Int.MaxValue)))
    l <- orNull(Gen.frequency(4 -> small(3).map(_.toLong), 2 -> Gen.oneOf(Long.MinValue, Long.MaxValue,
      Int.MinValue.toLong, Int.MaxValue.toLong, Int.MinValue - 1L, Int.MaxValue + 1L),
      1 -> Gen.choose(Long.MinValue, Long.MaxValue)))
    d <- orNull(Gen.frequency(4 -> small(3), 2 -> Gen.choose(-719162, 2932896)))
    t <- orNull(genTs)
    n <- orNull(genTs)
    str <- orNull(Gen.oneOf("", "a", "b", "ab").map(UTF8String.fromString))
  } yield Seq(b, s, i, l, d, t, n, str)

  /** Rows with a unique trailing id, so equal keys stay distinguishable. */
  def genRows(lo: Int, hi: Int): Gen[Seq[Seq[Any]]] =
    Gen.choose(lo, hi).flatMap(Gen.listOfN(_, genRow))
      .map(_.zipWithIndex.map { case (r, id) => r :+ id.toLong })

  /** Two or three keys, the first two packable, any directions and null
    * orderings; the third key (when present) may also be the string. */
  val genOrder: Gen[Seq[SortOrder]] = for {
    first <- Gen.pick(2, packedNames)
    two <- Gen.oneOf(Seq(first.toSeq, first.toSeq.reverse))
    third <- Gen.option(Gen.oneOf(("str" +: packedNames).filterNot(two.contains)))
    names = two ++ third
    dirs <- Gen.listOfN(names.size, Gen.oneOf(Ascending, Descending))
    nulls <- Gen.listOfN(names.size, Gen.oneOf(NullsFirst, NullsLast))
  } yield names.zip(dirs.zip(nulls)).map {
    case (n, (d, nl)) => SortOrder(attr(n), d, nl, Seq.empty)
  }

  private val toUnsafe = UnsafeProjection.create(attrs.map(_.dataType).toArray)
  def unsafe(values: Seq[Any]): UnsafeRow =
    toUnsafe(InternalRow.fromSeq(values.padTo(attrs.length, 0L))).copy()

  /** A leaf over fixed rows in `parts` partitions. */
  final case class RowsExec(output: Seq[Attribute], rows: Seq[UnsafeRow], parts: Int)
    extends LeafExecNode {
    override protected def doExecute(): RDD[InternalRow] =
      sparkContext.parallelize(rows, parts).map(r => r: InternalRow)
  }

  def run(plan: SparkPlan): Seq[UnsafeRow] =
    plan.execute().map(_.asInstanceOf[UnsafeRow].copy()).collect().toSeq

  /** None when the operator's output equals SortExec's row for row, else
    * what differs. With `anyTieOrder`, rows equal in `order` may come in
    * any order: the operator's output, from one partition, must then be
    * in `order` and hold the same rows. */
  def sameOutput(order: Seq[SortOrder], rows: Seq[Seq[Any]], parts: Int,
      spillEvery: Int = 0, anyTieOrder: Boolean = false): Option[String] = {
    spark // plans bind to the active session when built: start it first
    val child = RowsExec(attrs, rows.map(unsafe), parts)
    val sorted = run(SortExec(order, global = false, child))
    val result = run(PackedKeySortExec(order, global = false, child, spillEvery))
    val ord = RowOrdering.create(order, attrs)
    val byId = RowOrdering.create(order :+ SortOrder(attr("id"), Ascending), attrs)
    val (want, got) =
      if (anyTieOrder) (sorted.sorted(byId), result.sorted(byId)) else (sorted, result)
    if (anyTieOrder && result.zip(result.drop(1)).exists { case (a, b) => ord.compare(a, b) > 0 })
      Some(s"order ${order.mkString(", ")}, spill every $spillEvery: output out of order")
    else if (want == got) None
    else Some(s"order ${order.mkString(", ")}, spill every $spillEvery: " +
      s"${want.size} vs ${got.size} rows, first difference at " +
      want.zip(got).indexWhere { case (a, b) => a != b })
  }

  def agrees(diff: Option[String]): Prop = diff.fold(Prop.passed)(Prop.falsified :| _)

  /** A check that needs one evaluation: proved when nothing differs. */
  def once(diffs: => Seq[Option[String]]): Prop = Prop { _ =>
    diffs.flatten.headOption.fold(Prop.Result(Prop.Proof))(Prop.Result(Prop.False).label)
  }
}
