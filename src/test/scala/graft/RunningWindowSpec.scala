package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.plans.RunningWindowExec

/** [[RunningWindowExec]] against stock `WindowExec` on the same sorted,
  * partitioned child: on random rows — nullable keys, heavy ties in the
  * order, nulls, NaN and signed zeros — running sum/min/max/count/avg over
  * ints, longs and doubles, `row_number`/`rank`/`dense_rank` and `lag`
  * k = 1–3 with null, literal and column defaults, keyed and unkeyed, the
  * two operators' outputs are equal row for row (doubles bit for bit),
  * including over groups longer than `WindowExec`'s 4 096-row in-memory
  * buffer. */
object RunningWindowSpec extends Properties("RunningWindow") {
  import PackedKeySortFixture.{agrees, once}
  import RunningWindowFixture._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  property("equals WindowExec row for row on random rows") =
    forAllNoShrink(genRows(0, 300), Gen.oneOf(functionSets.keys.toSeq), Gen.oneOf(true, false)) {
      (rows, set, keyed) => agrees(sameOutput(rows, set, keyed))
    }

  property("every function set, keyed and unkeyed, over one fixed sample") =
    once {
      val rows = genRows(200, 200).pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(8))
      for (set <- functionSets.keys.toSeq; keyed <- Seq(true, false))
        yield sameOutput(rows, set, keyed)
    }

  property("groups longer than WindowExec's in-memory buffer") =
    once {
      val r = new scala.util.Random(11)
      val rows = (0 until 2 * 4096 + 777).map { id =>
        Row(if (id % 3 == 0) 1 else if (id % 3 == 1) null else r.nextInt(4), r.nextInt(500),
          r.nextInt(1000) - 500, r.nextLong() >> 20, r.nextGaussian() * 1e3, id.toLong)
      }
      functionSets.keys.toSeq.map(sameOutput(rows, _, keyed = true))
    }
}

private object RunningWindowFixture {
  import PackedKeySortFixture.run
  private lazy val spark = TestSpark.spark

  val schema: StructType = StructType(Seq(
    StructField("k", IntegerType), StructField("o", IntegerType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("id", LongType)))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 5 -> g)

  /** One row: few keys and order values (heavy ties), nulls, and doubles
    * whose sums are order-sensitive. */
  val genRow: Gen[Seq[Any]] = for {
    k <- orNull(Gen.choose(0, 3))
    o <- orNull(Gen.choose(0, 5))
    i <- orNull(Gen.choose(-1000, 1000))
    l <- orNull(Gen.choose(-1000000000000L, 1000000000000L))
    d <- orNull(Gen.frequency(8 -> Gen.choose(-1e6, 1e6), 1 -> Gen.const(0.1),
      1 -> Gen.oneOf(Double.NaN, -0.0, 0.0, 1e300, Double.NegativeInfinity)))
  } yield Seq(k, o, i, l, d)

  def genRows(lo: Int, hi: Int): Gen[Seq[Row]] =
    Gen.choose(lo, hi).flatMap(Gen.listOfN(_, genRow))
      .map(_.zipWithIndex.map { case (r, id) => Row.fromSeq(r :+ id.toLong) })

  private def running(w: WindowSpec) = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Window columns by name, each over the window spec it is given. */
  val functionSets: Map[String, WindowSpec => Seq[Column]] = Map(
    "running aggregates" -> (w => Seq(
      sum("i"), sum("l"), sum("d"), min("i"), max("l"), min("d"), max("d"),
      count("d"), count(lit(1)), avg("i"), avg("l"), avg("d")).map(_.over(running(w)))),
    "row numbers and ranks" -> (w => Seq(row_number(), rank(), dense_rank()).map(_.over(w))),
    "lags with null, literal and column defaults" -> (w => Seq(
      lag("i", 1), lag(col("l"), 2, 0L), lag(col("d"), 3, -1.5),
      lag(col("i"), 2, col("o")), expr("lag(d, 1, d * 2)")).map(_.over(w))),
    "all together" -> (w => Seq(
      sum("d").over(running(w)), count("i").over(running(w)), rank().over(w),
      lag(col("d"), 1, col("d")).over(w), lag("l", 3).over(w))))

  /** A leaf over fixed partitions of rows. */
  final case class PartsExec(output: Seq[Attribute], parts: Seq[Seq[UnsafeRow]])
    extends LeafExecNode {
    override protected def doExecute(): RDD[InternalRow] =
      sparkContext.parallelize(parts, parts.size).flatMap(_.iterator)
  }

  /** The stock window of `df` over a child that is partitioned on its
    * keys and sorted as it requires, built once from the plan's input. */
  private def stockWindow(df: DataFrame): WindowExec = {
    val w = df.queryExecution.sparkPlan.collectFirst { case w: WindowExec => w }
      .getOrElse(throw new IllegalStateException(s"no window in\n${df.queryExecution.sparkPlan}"))
    val input = w.child.output
    val rows = w.child.executeCollect().map(_.asInstanceOf[UnsafeRow])
    val key = UnsafeProjection.create(w.partitionSpec, input)
    val numParts = if (w.partitionSpec.isEmpty) 1 else 3
    val order = RowOrdering.create(w.requiredChildOrdering.head, input)
    val parts = (0 until numParts).map { p =>
      rows.filter(r => Math.floorMod(key(r).hashCode, numParts) == p).toSeq.sorted(order)
    }
    w.copy(child = PartsExec(input, parts))
  }

  /** None when the operator's output equals WindowExec's, else what
    * differs. */
  def sameOutput(rows: Seq[Row], set: String, keyed: Boolean): Option[String] = {
    // an RDD-backed frame, not a local relation: the optimizer folds a
    // window over an EMPTY local relation away, leaving no window to compare
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val w = if (keyed) Window.partitionBy("k").orderBy("o") else Window.orderBy("o")
    val stock = stockWindow(df.select(col("*") +: functionSets(set)(w): _*))
    val what = s"$set, ${if (keyed) "keyed" else "unkeyed"}, ${rows.size} rows"
    if (!RunningWindowExec.eligible(stock.windowExpression)) Some(s"$what: not eligible")
    else {
      val want = run(stock)
      val got = run(RunningWindowExec(stock.windowExpression, stock.partitionSpec,
        stock.orderSpec, stock.child))
      if (want == got) None
      else Some(s"$what: ${want.size} vs ${got.size} rows, first difference at " +
        want.zip(got).indexWhere { case (a, b) => a != b })
    }
  }
}
