package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One named engine query: a Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle statement run by
  * the driver against the same parquet tables.
  *
  * `headline` marks the queries timed by [[graft.Bench]] at sf0.1.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Shared helpers for oracle-exact numerics.
  *
  * The driver hash-compares Spark parquet output against DuckDB results, so
  * every float has to be bit-identical across both engines. Strategy:
  *   - sums of doubles go through `decimal(18,6)` (exact, associative —
  *     immune to partial-aggregation reordering on a cluster) and are cast
  *     back to double at the end (one deterministic IEEE rounding);
  *   - averages/ratios are a single IEEE double division of two values that
  *     are themselves exact — deterministic on both engines;
  *   - raw double columns pass through untouched (bit-exact by definition).
  */
object Q {
  val D6: DecimalType = DecimalType(18, 6)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize an event-time column to `TimestampType` regardless of how
    * the parquet writer encoded it — the engine's input-format-agnostic
    * contract (reference stages make no input-encoding assumptions either:
    * `/root/reference/gasket/src/framework.rs:10`). Three encodings seen
    * from the driver's generators so far, all handled:
    *   - parquet TIMESTAMP(NANOS), which Spark 4 only reads with
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (as a long): integer
    *     division ns→us (a double division would lose precision:
    *     epoch-ns ≈ 1.7e18 > 2^53). DuckDB's `cast(ts as timestamp)`
    *     truncates the same way.
    *   - parquet timestamp[us] without UTC adjustment → TIMESTAMP_NTZ:
    *     cast to TimestampType — bit-identical under the session's UTC
    *     timezone (Sessions pins `spark.sql.session.timeZone=UTC`), and
    *     matching DuckDB, which treats the column as wall-clock micros.
    *   - timestamp[us] UTC-adjusted → already TimestampType: pass through.
    * Works on batch AND streaming frames (pure column projection). */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(colName,
          col(colName).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(table(spark, dir, "events"))

  /** Exact (decimal-routed) sum of a double expression, returned as double. */
  def sumd(c: Column): Column = sum(c.cast(D6)).cast(DoubleType)

  /** DuckDB spelling of [[sumd]]. */
  def oSumd(expr: String): String =
    s"cast(sum(cast(($expr) as decimal(18,6))) as double)"

  /** Exact average: decimal sum divided by count — one IEEE division. */
  def avgd(c: Column): Column = sumd(c) / count(lit(1))
  def oAvgd(expr: String): String = s"(${oSumd(expr)} / count(*))"

  /** Exact long-scaled sum: each double is scaled to 6 decimals via ONE
    * IEEE multiply and rounded half-up (`floor(x·10⁶ + 0.5)` — for any
    * non-negative input whose true value has ≤ 6 decimals this matches
    * the decimal(18,6) cast's HALF_UP exactly; bare `floor` did not:
    * 2.01·10⁶ = 2009999.99…98 floored to n−1, drifting 1 micro/row off
    * the decimal spelling), then summed as exact BIGINTs. Both engines
    * run the identical multiply-add-floor, so results stay bit-identical
    * engine↔oracle for ANY double input, and additionally equal [[sumd]]
    * for 6-decimal non-negative values. ~30% faster than the
    * decimal(18,6) route in hot aggregations (no 128-bit arithmetic or
    * overflow checks per row). ONLY for sums whose magnitude is
    * schema-bounded (per-group sums with bounded group size): 6-decimal
    * scaling overflows BIGINT near 9.2e12 in the summed value —
    * corpus-wide money sums must stay on [[sumd]]. */
  def sumLong6(c: Column): Column =
    sum(floor(c * lit(1000000d) + lit(0.5d))
      .cast(org.apache.spark.sql.types.LongType))

  /** DuckDB spelling of [[sumLong6]]: cast to BIGINT keeps the engine on
    * 64-bit addition (DuckDB's bare sum(BIGINT) widens to HUGEINT). */
  def oSumLong6(expr: String): String =
    s"sum(CAST(floor(($expr) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))"

  /** Exact long-scaled average: [[sumLong6]] / (count · 10^6) — one IEEE
    * division of two exact values, so bit-identical across engines (and
    * equal to [[avgd]] whenever the inputs are 6-decimal-exact). */
  def avgLong6(c: Column): Column =
    sumLong6(c).cast(DoubleType) / (count(lit(1)) * lit(1000000d))
  def oAvgLong6(expr: String): String =
    s"(CAST(${oSumLong6(expr)} AS DOUBLE) / (count(*) * CAST(1000000 AS DOUBLE)))"

  /** Microsecond-exact timestamp rendering, identical in Spark and DuckDB
    * (DuckDB side must cast ns timestamps to `timestamp` first). */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
  def oTsStr(expr: String): String =
    s"strftime(cast(($expr) as timestamp), '%Y-%m-%d %H:%M:%S.%f')"

  def dateStr(c: Column): Column = date_format(c, "yyyy-MM-dd")
  def oDateStr(expr: String): String =
    s"strftime(cast(($expr) as date), '%Y-%m-%d')"

  /** The one materialization barrier, memoized per (name, data dir,
    * session): `staged` returns [[roundCheckpoint]] of what `build`
    * returns, or that frame as it is when it already is a checkpoint leaf
    * (the Lloyd loops), so composed queries (d06 reusing d02's pairs, q40
    * reusing d06) share one materialized copy that is built once, at
    * construction, before any consumer is planned, and that keeps its
    * producer's partitioning and ordering; [[clearStaged]] releases each
    * entry's checkpoint blocks. */
  private val stagedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def staged(key: String, dir: String)(build: => DataFrame): DataFrame = {
    // keyed per active session: a memoized frame registers temp views in
    // its own session's catalog, so another live session must not reuse it
    val session = SparkSession.active
    val k = s"$key|$dir|${System.identityHashCode(session)}"
    // NOT computeIfAbsent: build recurses into staged() for nested stages
    // (d06 -> d02), and CHM's mapping function must not touch the map
    // (same-bin collision => IllegalStateException("Recursive update"))
    val existing = stagedMemo.get(k)
    if (existing != null && !existing.sparkSession.sparkContext.isStopped) {
      existing
    } else {
      if (existing != null) stagedMemo.remove(k, existing)
      val frame = build
      val built = if (checkpointOf(frame).isDefined) frame else roundCheckpoint(frame)
      val prev = stagedMemo.putIfAbsent(k, built)
      if (prev == null) built
      else { releaseCheckpointBlocks(built, blocking = false); prev } // lost a benign race; use the winner
    }
  }

  /** Release and forget every memoized intermediate (cold-cache runs).
    * Blocking: a non-blocking unpersist races the NEXT cold run — the old
    * blocks are still draining while the new run fills the store, and the
    * eviction/GC churn showed up as an unattributable 60% bench swing. */
  def clearStaged(): Unit = {
    stagedMemo.forEach { (_, df) =>
      try if (!df.sparkSession.sparkContext.isStopped) releaseCheckpointBlocks(df, blocking = true)
      catch { case _: Throwable => () }
    }
    stagedMemo.clear()
  }

  /** Drop EVERY persisted RDD still registered with the context — staged
    * checkpoints AND the unkeyed checkpoints and persisted rounds of
    * iterative queries (d06's rounds), which `clearStaged` can't see. Bench calls this between
    * timed runs so each run starts from a genuinely empty block store.
    * Only safe when no live Dataset will be re-read: checkpoint lineage is
    * truncated, so swept blocks are unrecoverable. */
  def releaseAllPersisted(spark: SparkSession): Unit = {
    clearStaged()
    val sc = spark.sparkContext
    if (!sc.isStopped)
      sc.getPersistentRDDs.values.foreach { rdd =>
        try rdd.unpersist(blocking = true)
        catch { case _: Throwable => () }
      }
  }

  /** Run `body` with AQE shuffle coalescing governed purely by the 64 MB
    * advisory size (`parallelismFirst=false`), restoring the session's
    * setting afterwards. For ITERATIVE operators (d06 label propagation,
    * s06 Lloyd rounds) whose per-round shuffles carry metadata-width rows:
    * a round is a synchronization barrier, so fewer, larger reduce tasks
    * beat parallelism-first splitting at every scale — locally the 1 MB
    * floor would split a 20 MB round-shuffle into 20 tasks of overhead,
    * and on a cluster advisory-sized (64 MB) partitions minimize the
    * per-round barrier cost the same way. Single-pass queries must NOT run
    * under this: a 64×-scale profile showed the advisory target coalescing
    * q18's 178 MB reduce onto 3 of 32 cores (see [[graft.Sessions]]). */
  def withAdvisoryCoalesce[T](s: SparkSession)(body: => T): T =
    graft.Sessions.withConf(s,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")(body)

  /** Materialize `df` now and return a leaf that reads its blocks, never
    * its plan: the barrier behind [[staged]] and the per-round lineage cut
    * of the iterative loops (s06 Lloyd rounds), whose final plan would
    * otherwise re-derive every round. The checkpoint is eager, to the
    * reliable checkpoint dir when the session has one (it survives
    * executor loss) and otherwise local (executor blocks, lost with their
    * executor), and the `LogicalRDD` leaf declares the partitioning and
    * ordering of the adaptive plan that ran, so a consumer keyed like the
    * producer plans no exchange. */
  def roundCheckpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.checkpoint(df,
      reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** The checkpointed RDD when `df` ITSELF is a checkpoint — its analyzed
    * plan's root is a `LogicalRDD` over a checkpointed RDD, the shape
    * [[roundCheckpoint]] returns. Root-only, deliberately: a frame that
    * merely READS a checkpoint (s06's round-0 centroids select from the
    * shared checkpointed `normEmbeddings` leaf) is not one, and releasing the
    * leaf it reads killed that shared checkpoint for every later consumer
    * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). A plain `createDataFrame(rdd,
    * schema)` root is not checkpointed either. */
  private def checkpointOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD if l.rdd.isCheckpointed =>
        Some(l.rdd)
      case _ => None
    }

  /** Drop the blocks behind a checkpointed frame (see [[checkpointOf]];
    * no-op for any other frame). Nothing else unpersists them until the
    * ContextCleaner notices the RDD is unreachable — too late for
    * iterative loops that supersede a round per iteration. Only call
    * this when the frame will never be read again: checkpoint lineage is
    * truncated, so released blocks are NOT recomputable. */
  def releaseCheckpointBlocks(df: DataFrame, blocking: Boolean): Unit =
    checkpointOf(df).foreach(_.unpersist(blocking))

  /** Register the named driver tables as temp views (plus graft SQL
    * functions) and run a Spark-SQL statement against them. */
  def withViews(s: SparkSession, d: String, names: String*)(sql: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    names.foreach { n =>
      val df = if (n == "events") events(s, d) else table(s, d, n)
      df.createOrReplaceTempView(n)
    }
    s.sql(sql)
  }

  /** Normalized document text. Spark spelling (backslash-escaped string
    * literals) vs DuckDB spelling (needs the 'g' flag for replace-all). */
  val sNorm = """lower(trim(regexp_replace(text, '\\s+', ' ')))"""
  val oNorm = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""

  /** The two dialects one query text is written in: Spark SQL (the
    * engine) and DuckDB (the oracle). Each carries only the spellings
    * that differ between them in texts written once for both. */
  private[graft] sealed trait Dialect {
    /** Normalized document text ([[sNorm]] / [[oNorm]]). */
    def norm: String
    /** The array of `e`'s space-separated tokens. */
    def split(e: String): String
    /** The element count of array `e`. */
    def len(e: String): String
    /** The integer-division operator. */
    def div: String
    /** The string type name. */
    def str: String
    /** [[graft.functions.CharFold]] of `e` from `seed`. */
    def fold(e: String, seed: Int): String
  }

  private[graft] object Dialect {
    case object Spark extends Dialect {
      def norm: String = sNorm
      def split(e: String): String = s"split($e, ' ')"
      def len(e: String): String = s"size($e)"
      def div: String = "div"
      def str: String = "STRING"
      def fold(e: String, seed: Int): String = s"char_fold($e, $seed)"
    }
    case object DuckDB extends Dialect {
      def norm: String = oNorm
      def split(e: String): String = s"string_split($e, ' ')"
      def len(e: String): String = s"len($e)"
      def div: String = "//"
      def str: String = "VARCHAR"
      def fold(e: String, seed: Int): String = oCharFold(e, seed)
    }
  }

  /** SQL text assembly: the literal text loses its `|` margins (as with
    * `stripMargin`), and every continuation line of an argument is
    * indented to the column where the argument starts. Multi-line SQL
    * fragments (the embedding oracles' dot folds, corpus and top-k CTEs)
    * then compose at any depth into text laid out as if written by hand. */
  private[graft] implicit class AlignedSql(private val sc: StringContext) extends AnyVal {
    def sql(args: Any*): String = {
      val parts = sc.parts.map(p =>
        StringContext.processEscapes(p).replaceAll("\n[ \t]*\\|", "\n"))
      val out = new StringBuilder(parts.head)
      for ((a, p) <- args.zip(parts.tail)) {
        val col = out.length - out.lastIndexOf("\n") - 1
        out ++= a.toString.replace("\n", "\n" + " " * col) ++= p
      }
      out.toString
    }
  }

  /** DuckDB longhand for [[graft.functions.CharFold]]: identical fold, so
    * hash-based dedup queries stay oracle-checkable. */
  def oCharFold(e: String, seed: Int): String =
    s"""list_reduce(list_prepend(CAST($seed AS BIGINT),
       |  list_transform(range(1, length($e)+1),
       |    i -> CAST(ascii(substring($e, i, 1)) AS BIGINT))),
       |  (a, c) -> (a * 31 + c) % 4294967296)""".stripMargin
}
