package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Layer-B relational operator battery (SURVEY.md §2.2): scans, projection/
  * filter, joins (broadcast/sort-merge/semi/anti), aggregation (hash,
  * rollup/cube, distinct), windows, sort/limit/top-k, set ops, scalar
  * functions, subquery shapes. Reference has none of these (gasket-rs is a
  * SEDA pipeline framework — see `/root/reference/gasket/src/messaging.rs`);
  * they are engine obligations exercised over the driver tables.
  *
  * Scale notes (100 TB mindset): dimension joins (`nation`, `region`,
  * `supplier`, `part`) are explicitly `broadcast()`; fact-fact joins
  * (`lineitem ⋈ orders`) are left to sort-merge + AQE; every query filters
  * and projects as early as possible so parquet pushdown kicks in.
  */
object Relational {

  private def li(s: SparkSession, d: String) = table(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = table(s, d, "orders")
  private def cust(s: SparkSession, d: String) = table(s, d, "customer")
  private def supp(s: SparkSession, d: String) = table(s, d, "supplier")
  private def part(s: SparkSession, d: String) = table(s, d, "part")
  private def nat(s: SparkSession, d: String) = table(s, d, "nation")
  private def reg(s: SparkSession, d: String) = table(s, d, "region")
  private def ev(s: SparkSession, d: String) = events(s, d)

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1 shape: wide hash aggregation with map-side partial agg. */
  /** TPC-H Q1. The corpus-wide money sums are TWO-LEVEL: per-partition
    * partials accumulate 6-decimal-scaled LONGs (codegen'd 64-bit adds —
    * a flat decimal(18,6) sum widens its buffer to decimal(28,6), which
    * falls off UnsafeRow's compact-long representation into per-row
    * BigDecimal allocation: measured 3.25 s vs DuckDB's 0.27 s at 64×,
    * the only headline query then losing by >10×), and the tiny merge
    * (≤ 6 rows per input partition) sums exactly as decimal(38,0). The
    * long partial cannot overflow at ANY corpus size because its row
    * count is bounded by the input split size, not by N: ≤ ~4 M rows per
    * 128 MB partition × ≤ 1.3·10¹¹ micros/row ≈ 5·10¹⁷ ≪ 2⁶³ — and the
    * merge is decimal, so total volume is unbounded. Rounding: the
    * half-up long scaling ([[Q.sumLong6]]) matches the decimal(18,6)
    * cast exactly on the raw ≤ 2-decimal money columns; the product
    * terms (price·(1−disc)·(1+tax)) are full-precision doubles where
    * both spellings round the same ONE IEEE product, and both engines
    * share the identical multiply-add-floor shape, so results stay
    * bit-identical engine↔oracle at any partial-aggregation order. */
  val q01 = QueryDef(
    "q01_pricing_summary",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions.spark_partition_id
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val dec38 = DecimalType(38, 0)
      val partials = li(s, d)
        .where($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .withColumn("part", spark_partition_id())
        .groupBy($"l_returnflag", $"l_linestatus", $"part")
        .agg(
          sumLong6($"l_quantity").as("m_qty"),
          sumLong6($"l_extendedprice").as("m_base"),
          sumLong6($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("m_disc"),
          sumLong6($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("m_charge"),
          sumLong6($"l_discount").as("m_disconly"),
          count(lit(1)).as("n"))
      def tot(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(c.cast(dec38)).cast(DoubleType)
      partials
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          (tot($"m_qty") / 1e6).as("sum_qty"),
          (tot($"m_base") / 1e6).as("sum_base_price"),
          (tot($"m_disc") / 1e6).as("sum_disc_price"),
          (tot($"m_charge") / 1e6).as("sum_charge"),
          (tot($"m_qty") / (sum($"n") * lit(1000000d))).as("avg_qty"),
          (tot($"m_disconly") / (sum($"n") * lit(1000000d))).as("avg_disc"),
          sum($"n").as("count_order"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             (CAST(${oSumLong6("l_quantity")} AS DOUBLE) / 1000000) AS sum_qty,
             (CAST(${oSumLong6("l_extendedprice")} AS DOUBLE) / 1000000) AS sum_base_price,
             (CAST(${oSumLong6("l_extendedprice * (cast(1 as double) - l_discount)")} AS DOUBLE) / 1000000) AS sum_disc_price,
             (CAST(${oSumLong6("l_extendedprice * (cast(1 as double) - l_discount) * (cast(1 as double) + l_tax)")} AS DOUBLE) / 1000000) AS sum_charge,
             ${oAvgLong6("l_quantity")} AS avg_qty,
             ${oAvgLong6("l_discount")} AS avg_disc,
             count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02'
      GROUP BY l_returnflag, l_linestatus"""),
    headline = true)

  // ---------------------------------------------------------------- q02
  /** Projection + filter; both must reach the parquet scan (pushdown). */
  val q02 = QueryDef(
    "q02_filter_project",
    (s, d) => {
      import s.implicits._
      li(s, d)
        .where($"l_quantity" > 45.0 && $"l_shipdate" >= lit("1997-01-01").cast("timestamp")
          && $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
        .select($"l_orderkey", $"l_linenumber",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (cast(1 as double) - l_discount) AS revenue
      FROM lineitem
      WHERE l_quantity > 45.0 AND l_shipdate >= timestamp '1997-01-01'
        AND l_shipdate < timestamp '1998-01-01'"""))

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3 shape: fact⋈fact⋈dim join, agg, deterministic top-10.
    *
    * Scale note (round 6): the revenue agg groups by (l_orderkey,
    * o_orderdate) — one group per order, so per-group sums are
    * schema-bounded (≤ 7 lineitems/order × extprice ≤ ~1e5 → ≤ ~7e5,
    * or ~7e11 after 6-decimal scaling — far inside BIGINT). That makes
    * it eligible for [[Q.sumLong6]] (the q17/q18 treatment): 64-bit adds
    * in the hot partial aggregation instead of 128-bit decimal(18,6)
    * arithmetic over the full fact table. The exchange already carries
    * only (orderkey, date, partial-sum) — the long sums shrink the
    * per-row agg cost, not the (correct) shuffle shape.
    *
    * Scale note (round 11, StageProfile + measured A/B — SCALE.md "q03
    * profile"): the 64× residual is the lineitem exchange itself (279 MB
    * / 18.7 M filtered rows into the sort-merge join; stages: 0.80 s
    * lineitem shuffle, 0.66 s orders⋈customer, 0.55 s join+agg+top-K).
    * An aggregate-below-join rewrite (pre-sum revenue per l_orderkey on
    * the scan; o_orderdate is functionally dependent, so the join output
    * needs no re-aggregation, and the join reuses the agg's
    * partitioning) cut the exchange 3× to 99 MB / 8.2 M partial rows —
    * and LOST 11% wall-clock at local[32] (1.58 → 1.75 s min-of-5): a
    * memory-backed local shuffle is cheaper than the extra hash-agg pass
    * over 18.7 M rows. Kept spelling = join-then-aggregate (the local
    * winner); on a network-bound cluster the pre-agg variant's 3×
    * byte reduction is the dial to flip. The remaining gap to DuckDB is
    * the exchange a single-node hash join never pays — q18's regime. */
  val q03 = QueryDef(
    "q03_shipping_priority",
    (s, d) => {
      import s.implicits._
      cust(s, d).where($"c_mktsegment" === "BUILDING")
        .join(ord(s, d), $"c_custkey" === $"o_custkey")
        .where($"o_orderdate" < lit("1998-06-30").cast("timestamp"))
        .join(li(s, d), $"o_orderkey" === $"l_orderkey")
        .where($"l_shipdate" > lit("1998-06-30").cast("timestamp"))
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg((sumLong6($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("double")
          / lit(1000000d)).as("revenue"))
        .select($"l_orderkey", dateStr($"o_orderdate").as("o_orderdate"), $"revenue")
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },
    Some(s"""
      SELECT l_orderkey, ${oDateStr("o_orderdate")} AS o_orderdate,
             (CAST(${oSumLong6("l_extendedprice * (cast(1 as double) - l_discount)")} AS DOUBLE)
                / CAST(1000000 AS DOUBLE)) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < timestamp '1998-06-30'
        AND l_shipdate  > timestamp '1998-06-30'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    headline = true)

  // ---------------------------------------------------------------- q04
  /** EXISTS → left-semi join, then aggregation (TPC-H Q4 shape). */
  val q04 = QueryDef(
    "q04_order_priority",
    (s, d) => {
      import s.implicits._
      val big = li(s, d).where($"l_quantity" >= 48.0).select($"l_orderkey")
      ord(s, d)
        .join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 48.0)
      GROUP BY o_orderpriority"""))

  // ---------------------------------------------------------------- q05
  /** TPC-H Q5 shape: 6-way join; dims broadcast, facts sort-merge. */
  val q05 = QueryDef(
    "q05_local_supplier_volume",
    (s, d) => {
      import s.implicits._
      val asia = broadcast(
        nat(s, d).join(broadcast(reg(s, d).where($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey"))
      cust(s, d)
        .join(ord(s, d), $"c_custkey" === $"o_custkey")
        .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .join(li(s, d), $"o_orderkey" === $"l_orderkey")
        .join(broadcast(supp(s, d)),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(asia, $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sumd($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
    },
    Some(s"""
      SELECT n_name,
             ${oSumd("l_extendedprice * (cast(1 as double) - l_discount)")} AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= timestamp '1996-01-01'
        AND o_orderdate <  timestamp '1997-01-01'
      GROUP BY n_name"""),
    headline = true)

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6: highly selective scan-agg — pushdown showcase. */
  val q06 = QueryDef(
    "q06_forecast_revenue",
    (s, d) => {
      import s.implicits._
      li(s, d)
        .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24.0)
        .agg(sumd($"l_extendedprice" * $"l_discount").as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some(s"""
      SELECT ${oSumd("l_extendedprice * l_discount")} AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= timestamp '1996-01-01'
        AND l_shipdate <  timestamp '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0"""),
    headline = true)

  // ---------------------------------------------------------------- q07
  /** Ranking window: deterministic top-3 orders per customer. */
  val q07 = QueryDef(
    "q07_topk_per_customer",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      ord(s, d)
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3"""))

  // ---------------------------------------------------------------- q08
  /** Frame windows: running sum + lag. The driver's
    * synthetic lineitem does NOT have unique (l_orderkey, l_linenumber) —
    * ~118k duplicate key groups at sf0.1 — so l_quantity closes the sort:
    * rows tying on all four keys carry equal quantity, making lag/sum
    * value-deterministic under any shuffle order (caught by the sf0.1
    * oracle sweep: 3/600k rows flipped prev_qty between engines).
    *
    * The engine sums on a long ([[Q.sumLong6]], quantities scaled by 10⁶)
    * where the oracle sums `decimal(18,6)`; `l_quantity` holds integers
    * 1–50, so both are the same exact value and the one division by 10⁶
    * gives the same double the decimal cast does. A quantity of at most
    * 50 overflows the long only past about 1.8·10¹¹ rows per supplier,
    * and ANSI mode (on by default in Spark 4) makes an overflow throw
    * rather than wrap. */
  val q08 = QueryDef(
    "q08_running_totals",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
      li(s, d)
        .withColumn("running_qty",
          sumLong6($"l_quantity")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / lit(1e6))
        .withColumn("prev_qty", lag($"l_quantity", 1).over(w))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
          $"l_quantity", $"running_qty", $"prev_qty")
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             cast(sum(cast(l_quantity as decimal(18,6)))
                  OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  as double) AS running_qty,
             lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
      FROM lineitem"""),
    headline = true)

  // ---------------------------------------------------------------- q09
  /** ROLLUP hierarchy totals (null-free keys via sentinel coalesce). */
  val q09 = QueryDef(
    "q09_rollup_returns",
    (s, d) => {
      import s.implicits._
      li(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sumd($"l_quantity").as("sum_qty"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
          $"n", $"sum_qty")
    },
    Some(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n, ${oSumd("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  // ---------------------------------------------------------------- q10
  /** CUBE over two dims. */
  val q10 = QueryDef(
    "q10_cube_orders",
    (s, d) => {
      import s.implicits._
      ord(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), sumd($"o_totalprice").as("sum_price"))
        .select(coalesce($"o_orderstatus", lit("ALL")).as("orderstatus"),
          coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
          $"n", $"sum_price")
    },
    Some(s"""
      SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
             coalesce(o_orderpriority, 'ALL') AS orderpriority,
             count(*) AS n, ${oSumd("o_totalprice")} AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)"""))

  // ---------------------------------------------------------------- q11
  /** Set ops: INTERSECT / EXCEPT branches tagged and unioned. */
  val q11 = QueryDef(
    "q11_set_ops",
    (s, d) => {
      import s.implicits._
      val rich = cust(s, d).where($"c_acctbal" > 5000.0).select($"c_custkey")
      val active = ord(s, d)
        .where($"o_orderdate" >= lit("1997-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        .select($"o_custkey".as("c_custkey")).distinct()
      rich.intersect(active).withColumn("tag", lit("rich_active"))
        .unionByName(rich.except(active).withColumn("tag", lit("rich_inactive")))
    },
    Some("""
      WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0),
           active AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
                      WHERE o_orderdate >= timestamp '1997-01-01'
                        AND o_orderdate <  timestamp '1998-01-01')
      SELECT c_custkey, 'rich_active' AS tag FROM (SELECT * FROM rich INTERSECT SELECT * FROM active)
      UNION ALL
      SELECT c_custkey, 'rich_inactive' AS tag FROM (SELECT * FROM rich EXCEPT SELECT * FROM active)"""))

  // ---------------------------------------------------------------- q12
  /** Multi-column exact distinct aggregation (expand + two-phase agg). */
  val q12 = QueryDef(
    "q12_distinct_counts",
    (s, d) => {
      import s.implicits._
      li(s, d)
        .where($"l_shipdate" >= lit("1997-01-01").cast("timestamp"))
        .agg(countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          countDistinct($"l_orderkey").as("n_orders"),
          count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(DISTINCT l_orderkey) AS n_orders,
             count(*) AS n_rows
      FROM lineitem WHERE l_shipdate >= timestamp '1997-01-01'"""))

  // ---------------------------------------------------------------- q13
  /** NOT EXISTS → left-anti join (against a filtered fact so the result is
    * non-empty at every SF). */
  val q13 = QueryDef(
    "q13_customers_without_big_orders",
    (s, d) => {
      import s.implicits._
      val big = ord(s, d).where($"o_totalprice" > 400000.0).select($"o_custkey")
      cust(s, d)
        .join(big, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)"""))

  // ---------------------------------------------------------------- q14
  /** Conditional aggregation ratio (TPC-H Q14 promo-revenue shape). */
  val q14 = QueryDef(
    "q14_promo_revenue",
    (s, d) => {
      import s.implicits._
      val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      li(s, d)
        .where($"l_shipdate" >= lit("1997-03-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-04-01").cast("timestamp"))
        .join(broadcast(part(s, d)), $"l_partkey" === $"p_partkey")
        .agg(
          (lit(100.0) * sumd(when($"p_type" === "PROMO", rev).otherwise(0.0)) /
            sumd(rev)).as("promo_pct"),
          count(lit(1)).as("n_items"))
    },
    Some(s"""
      SELECT (cast(100 as double) *
              ${oSumd("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (cast(1 as double) - l_discount) ELSE cast(0 as double) END")} /
              ${oSumd("l_extendedprice * (cast(1 as double) - l_discount)")}) AS promo_pct,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= timestamp '1997-03-01'
        AND l_shipdate <  timestamp '1997-04-01'"""))

  // ---------------------------------------------------------------- q15
  /** Scalar-subquery max: supplier(s) with peak revenue (TPC-H Q15). */
  val q15 = QueryDef(
    "q15_top_supplier",
    (s, d) => {
      import s.implicits._
      // The scalar max is a 1-row aggregate broadcast back onto rev — an
      // empty-partition Window(max) would funnel every per-supplier row
      // through ONE task, a scale-killer at 100x supplier counts. rev is
      // cached because it feeds both the max and the filter (Spark CTEs
      // recompute per consumer).
      val rev = li(s, d)
        .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(sumd($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_revenue"))
      val revC = staged("q15_rev", d)(rev)
      val maxRev = revC.agg(max($"total_revenue").as("max_rev"))
      revC.join(broadcast(maxRev), $"total_revenue" === $"max_rev")
        .join(broadcast(supp(s, d)), $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"total_revenue")
    },
    Some(s"""
      WITH rev AS (
        SELECT l_suppkey,
               ${oSumd("l_extendedprice * (cast(1 as double) - l_discount)")} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= timestamp '1996-01-01'
          AND l_shipdate <  timestamp '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""))

  // ---------------------------------------------------------------- q16
  /** NOT IN subquery → anti join + grouped distinct counts (Q16 shape). */
  val q16 = QueryDef(
    "q16_part_brand_stats",
    (s, d) => {
      import s.implicits._
      val heavy = li(s, d).where($"l_quantity" > 49.0).select($"l_partkey").distinct()
      part(s, d)
        .join(heavy, $"p_partkey" === $"l_partkey", "left_anti")
        .groupBy($"p_brand")
        .agg(countDistinct($"p_size").as("n_sizes"), count(lit(1)).as("n_parts"))
    },
    Some("""
      SELECT p_brand, count(DISTINCT p_size) AS n_sizes, count(*) AS n_parts
      FROM part
      WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49.0)
      GROUP BY p_brand"""))

  // ---------------------------------------------------------------- q17
  /** Correlated-aggregate shape (TPC-H Q17): per-part avg as a join.
    *
    * Scale notes (64× experiments, round 5):
    *  - The per-part average runs on [[Q.avgLong6]] (long-scaled exact
    *    sums): the decimal(18,6) route spent ~16% of the query in 128-bit
    *    adds over the full fact table. Per-part group sums are schema-
    *    bounded (≤ ~30 rows/part × qty ≤ 50), so longs can't overflow at
    *    any corpus size. The outer total_price stays decimal ([[Q.sumd]]):
    *    it's one global group over the ~1% filtered rows (cold path) and
    *    decimal is overflow-immune there.
    *  - `avgQ` carries ONE ROW PER DISTINCT PART — dimension cardinality,
    *    not fact cardinality — so it gets an explicit broadcast hint.
    *    Static stats estimate the agg at its child's (fact) size, pick
    *    sort-merge, and AQE can't rescue it: by the time runtime stats
    *    expose the true size, the probe shuffle is materialized and the
    *    demote rule keeps SMJ. Measured at 64× data: hinted broadcast
    *    1.0 s vs 6.4 s SMJ (and 5.3 s for the single-shuffle window
    *    formulation — the probe-side shuffle+sort of the whole fact table
    *    is the thing to avoid, not the second scan). At a scale where the
    *    part dimension itself outgrows the broadcast budget, drop the
    *    hint and this degrades to exactly that co-partitioned SMJ. */
  val q17 = QueryDef(
    "q17_small_quantity_revenue",
    (s, d) => {
      import s.implicits._
      val avgQ = li(s, d).groupBy($"l_partkey".as("ap_partkey"))
        .agg(avgLong6($"l_quantity").as("avg_qty"))
      li(s, d)
        .join(broadcast(avgQ), $"l_partkey" === $"ap_partkey")
        .where($"l_quantity" < lit(0.5) * $"avg_qty")
        .agg(sumd($"l_extendedprice").as("total_price"), count(lit(1)).as("n_items"))
    },
    Some(s"""
      WITH a AS (SELECT l_partkey AS ap_partkey, ${oAvgLong6("l_quantity")} AS avg_qty
                 FROM lineitem GROUP BY l_partkey)
      SELECT ${oSumd("l_extendedprice")} AS total_price, count(*) AS n_items
      FROM lineitem JOIN a ON l_partkey = ap_partkey
      WHERE l_quantity < cast(0.5 as double) * avg_qty"""),
    headline = true)

  // ---------------------------------------------------------------- q18
  /** Large-order filter via grouped HAVING then joins (TPC-H Q18).
    *
    * Scale notes (64× experiments, round 5): the query IS the
    * order-cardinality aggregation — grouping the full fact table by
    * l_orderkey produces one row per order, so the exchange legitimately
    * carries ~|orders| partial sums (measured: the agg alone accounts for
    * the whole runtime; the joins after it are noise). Per-order sums are
    * schema-bounded (≤ 7 items × qty ≤ 50), so [[Q.sumLong6]] replaces
    * the decimal route — 26% faster end-to-end at 64×. A broadcast hint
    * on the post-HAVING side was measured SLOWER (it forces a driver
    * collect while the agg still dominates) and is not used; AQE picks
    * the join shape from runtime stats. The residual gap vs a single-node
    * in-memory engine is the shuffle itself, which is precisely the part
    * that scales out horizontally: each executor aggregates |orders|/N
    * groups, while the single-process hash table cannot grow past one
    * machine. */
  /** q18's Bloom semi-join dial (`-Dgraft.q18.bloom=true`, default OFF) —
    * round-13 verdict item 4: the spelling was implemented, profiled
    * (881 MB / 38.4 M-row orders exchange → 0 at 256×,
    * StageProfile-confirmed) and then lived only in git history because
    * local job constants eat the win (+0.28 s at sf0.1, −5% at 256×).
    * That is exactly a cluster-vs-local crossover, so it ships as a dial
    * like `-Dgraft.export.shards`: on a network-bound cluster the orders
    * exchange is the dominant cost and the flag removes it; on a
    * single box the plain spelling's fewer jobs win. A `def`, not a
    * load-time val, so PlanShapeSpec can pin both plan shapes in one
    * JVM. */
  private[graft] def q18BloomDial: Boolean =
    Profile.dial("graft.q18.bloom", onUnderCluster = true)

  val q18 = QueryDef(
    "q18_large_orders",
    (s, d) => {
      import s.implicits._
      // Round-12 note (measured, SCALE.md "q18 Bloom semi-join"): the
      // HAVING makes bigOrders tiny (TPC-H Q18's point), but AQE sizes
      // the join from the PRE-aggregate exchange (82 MB at 64×) and
      // keeps a sort-merge join, shuffling the full orders table against
      // a frame about to shrink 1000×. A staged-aggregate + Bloom
      // prefilter on the orders scan (d12's pattern) removes the orders
      // exchange entirely (881 MB → 0 at 256×, profiled) — and LOST at
      // gate scale (+0.28 s of cache/bloom job constants at sf0.1,
      // −5% at 256×), so the plain spelling is the default, q03's
      // precedent — and [[q18BloomDial]] flips in the cluster spelling.
      val bigOrders = li(s, d).groupBy($"l_orderkey")
        .agg((sumLong6($"l_quantity").cast("double") / lit(1000000d)).as("sum_qty"))
        .where($"sum_qty" > 300.0)
      val (orders, big) =
        if (!q18BloomDial) (ord(s, d), bigOrders)
        else {
          // d12's pattern on the fact side: stage the post-HAVING
          // aggregate (tiny by construction — TPC-H Q18's point), build a
          // driver-side Bloom over its keys, and prefilter the orders
          // SCAN before any join. The staged frame is also the join's
          // build side, so AQE broadcasts it and the orders exchange is
          // gone entirely; the Bloom's false positives are removed by the
          // exact join, so the result is exact regardless of the filter.
          val bigC = staged("q18_big", d) { bigOrders }
          val bloom = bigC.stat.bloomFilter("l_orderkey", 1000000L, 0.01)
          val bbf = s.sparkContext.broadcast(bloom)
          val mightContain = org.apache.spark.sql.functions.udf(
            (k: Long) => bbf.value.mightContainLong(k))
          (ord(s, d).where(mightContain($"o_orderkey")), bigC)
        }
      orders
        .join(big, $"o_orderkey" === $"l_orderkey")
        .join(cust(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"o_orderkey",
          dateStr($"o_orderdate").as("o_orderdate"), $"o_totalprice", $"sum_qty")
    },
    Some(s"""
      WITH big AS (SELECT l_orderkey,
                     (CAST(${oSumLong6("l_quantity")} AS DOUBLE)
                        / CAST(1000000 AS DOUBLE)) AS sum_qty
                   FROM lineitem GROUP BY l_orderkey
                   HAVING (CAST(${oSumLong6("l_quantity")} AS DOUBLE)
                             / CAST(1000000 AS DOUBLE)) > 300.0)
      SELECT c_custkey, c_name, o_orderkey, ${oDateStr("o_orderdate")} AS o_orderdate,
             o_totalprice, sum_qty
      FROM orders JOIN big ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey"""),
    headline = true)

  // ---------------------------------------------------------------- q19
  /** Scalar function coverage: string/date/math, all integer-exact. */
  val q19 = QueryDef(
    "q19_scalar_functions",
    (s, d) => {
      import s.implicits._
      ord(s, d)
        .where($"o_orderkey" % 10 === 0)
        .select(
          $"o_orderkey",
          upper(substring($"o_orderpriority", 3, 20)).as("pri_word"),
          concat($"o_orderstatus", lit("-"), $"o_orderpriority").as("status_pri"),
          length($"o_orderpriority").as("pri_len"),
          year($"o_orderdate").as("o_year"),
          month($"o_orderdate").as("o_month"),
          dayofmonth($"o_orderdate").as("o_day"),
          datediff(to_date($"o_orderdate"), to_date(lit("1995-01-01"))).as("days_since"),
          floor($"o_totalprice").cast("long").as("price_floor"),
          ($"o_orderkey" % 7).as("key_mod"),
          abs($"o_totalprice" - 250000.0).as("price_dev"))
    },
    Some("""
      SELECT o_orderkey,
             upper(substring(o_orderpriority, 3, 20)) AS pri_word,
             concat(o_orderstatus, '-', o_orderpriority) AS status_pri,
             cast(length(o_orderpriority) as int) AS pri_len,
             cast(year(o_orderdate) as int) AS o_year,
             cast(month(o_orderdate) as int) AS o_month,
             cast(day(o_orderdate) as int) AS o_day,
             cast(date_diff('day', DATE '1995-01-01', cast(o_orderdate as date)) as int) AS days_since,
             cast(floor(o_totalprice) as bigint) AS price_floor,
             o_orderkey % 7 AS key_mod,
             abs(o_totalprice - cast(250000 as double)) AS price_dev
      FROM orders WHERE o_orderkey % 10 = 0"""))

  // ---------------------------------------------------------------- q20
  /** Semi-structured: JSON field extraction + aggregation. */
  val q20 = QueryDef(
    "q20_json_events",
    (s, d) => {
      import s.implicits._
      ev(s, d)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
    },
    Some("""
      SELECT event_type, count(*) AS n,
             cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS sum_k,
             cast(min(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS min_k,
             cast(max(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS max_k
      FROM events GROUP BY event_type"""))

  // ---------------------------------------------------------------- q21
  /** Event-time tumbling window (batch form; streaming twin in
    * [[graft.streaming]] is asserted equivalent by test). */
  val q21 = QueryDef(
    "q21_hourly_events",
    (s, d) => {
      import s.implicits._
      ev(s, d)
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sumd($"value").as("sum_value"))
        .select(tsStr($"hour").as("hour"), $"event_type", $"n", $"sum_value")
    },
    Some(s"""
      SELECT ${oTsStr("date_trunc('hour', cast(ts as timestamp))")} AS hour,
             event_type, count(*) AS n, ${oSumd("value")} AS sum_value
      FROM events GROUP BY 1, 2"""),
    headline = true)

  /** Incremental aggregate maintenance — the materialized-view refresh
    * pattern q57's row-level CDC doesn't cover: q21's hourly aggregate is
    * maintained by MERGING pre-aggregated states (base partition ⊕ delta
    * partition: counts add, decimal sums add — exact and associative, so
    * merge order cannot matter) instead of rescanning the base, and the
    * gate PROVES maintained ≡ full recompute per group (`matches_full`
    * is computed, not asserted — a false anywhere breaks the hash). At
    * 100 TB this is the difference between scanning a day's delta and
    * scanning the corpus per refresh; the decimal(18,6) state is the
    * same mergeability argument [[Q.sumd]] makes for partial
    * aggregation, here made visible across ingestion batches. */
  val q67 = QueryDef(
    "q67_incremental_agg",
    (s, d) => {
      import s.implicits._
      val e = Q.events(s, d)
      def part(pred: org.apache.spark.sql.Column) =
        e.where(pred)
          .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
          .agg(count(lit(1)).as("n"), sum($"value".cast(D6)).as("s"))
      val merged = part($"event_id" % 2 === 0)
        .unionAll(part($"event_id" % 2 === 1))
        .groupBy($"hour", $"event_type")
        .agg(sum($"n").cast("bigint").as("n"),
          sum($"s").cast("double").as("sum_value"))
      val full = e
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).cast("bigint").as("fn"), sumd($"value").as("fs"))
      merged.join(full, Seq("hour", "event_type"))
        .select(tsStr($"hour").as("hour"), $"event_type", $"n", $"sum_value",
          ($"n" === $"fn" && $"sum_value" === $"fs").as("matches_full"))
    },
    Some(s"""
      WITH base AS (SELECT date_trunc('hour', cast(ts AS timestamp)) AS hour,
                      event_type, CAST(count(*) AS BIGINT) AS n,
                      sum(cast(value AS DECIMAL(18,6))) AS s
                    FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
      delta AS (SELECT date_trunc('hour', cast(ts AS timestamp)) AS hour,
                  event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(cast(value AS DECIMAL(18,6))) AS s
                FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2),
      merged AS (SELECT hour, event_type, CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(s) AS DOUBLE) AS sum_value
                 FROM (SELECT * FROM base UNION ALL SELECT * FROM delta) u
                 GROUP BY 1, 2),
      f AS (SELECT date_trunc('hour', cast(ts AS timestamp)) AS hour,
              event_type, CAST(count(*) AS BIGINT) AS fn,
              ${oSumd("value")} AS fs
            FROM events GROUP BY 1, 2)
      SELECT ${oTsStr("m.hour")} AS hour, m.event_type, m.n, m.sum_value,
             m.n = f2.fn AND m.sum_value = f2.fs AS matches_full
      FROM merged m JOIN f f2
        ON m.hour = f2.hour AND m.event_type = f2.event_type"""))

  /** q67's HEADLINE twin (round-14 verdict item 7): the maintained
    * refresh ALONE — base partition ⊕ delta partition merged into the
    * published aggregate — without the full-recompute-and-join proof
    * leg. q67_incremental_agg times its own proof BY DESIGN
    * (`matches_full` is computed against a genuine full recompute), which
    * parked a permanent 12.9× entry in the weak set for work the pattern
    * exists to avoid; this row is what a deployment actually pays per
    * refresh cycle. Both rows stay independently oracle-gated; the
    * maintained-state A/B in SCALE.md (state on disk, delta-only scan)
    * is the stronger cluster-shape evidence — 1.76× over full recompute
    * at 256×. */
  val q67r = QueryDef(
    "q67_refresh",
    (s, d) => {
      import s.implicits._
      val e = Q.events(s, d)
      def part(pred: org.apache.spark.sql.Column) =
        e.where(pred)
          .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
          .agg(count(lit(1)).as("n"), sum($"value".cast(D6)).as("s"))
      part($"event_id" % 2 === 0)
        .unionAll(part($"event_id" % 2 === 1))
        .groupBy($"hour", $"event_type")
        .agg(sum($"n").cast("bigint").as("n"),
          sum($"s").cast("double").as("sum_value"))
        .select(tsStr($"hour").as("hour"), $"event_type", $"n", $"sum_value")
    },
    Some(s"""
      WITH base AS (SELECT date_trunc('hour', cast(ts AS timestamp)) AS hour,
                      event_type, CAST(count(*) AS BIGINT) AS n,
                      sum(cast(value AS DECIMAL(18,6))) AS s
                    FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
      delta AS (SELECT date_trunc('hour', cast(ts AS timestamp)) AS hour,
                  event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(cast(value AS DECIMAL(18,6))) AS s
                FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2),
      merged AS (SELECT hour, event_type, CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(s) AS DOUBLE) AS sum_value
                 FROM (SELECT * FROM base UNION ALL SELECT * FROM delta) u
                 GROUP BY 1, 2)
      SELECT ${oTsStr("hour")} AS hour, event_type, n, sum_value
      FROM merged"""),
    headline = true)

  /** TPC-H Q8-shaped market share: the full 7-table star join (every
    * TPC-H-ish table except events) — the widest plan in the battery;
    * dims broadcast, facts sort-merge, year bucketing, conditional
    * share ratio per year. */
  val q41 = QueryDef(
    "q41_market_share",
    (s, d) => {
      import s.implicits._
      val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
      li(s, d)
        .join(ord(s, d), $"l_orderkey" === $"o_orderkey")
        .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        .join(cust(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(part(s, d)), $"l_partkey" === $"p_partkey")
        .where($"p_type" === "STANDARD")
        .join(broadcast(supp(s, d)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nat(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(reg(s, d)), $"n_regionkey" === $"r_regionkey")
        .where($"r_name" === "EUROPE")
        .groupBy(year($"o_orderdate").as("o_year"))
        .agg(
          (sumd(when($"s_nationkey" === $"c_nationkey", rev).otherwise(0.0)) /
            sumd(rev)).as("local_share"),
          sumd(rev).as("total_revenue"),
          count(lit(1)).as("n_items"))
        .select($"o_year".cast("long").as("o_year"), $"local_share",
          $"total_revenue", $"n_items")
    },
    Some(s"""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             (${oSumd("CASE WHEN s_nationkey = c_nationkey THEN l_extendedprice * (cast(1 as double) - l_discount) ELSE cast(0 as double) END")} /
              ${oSumd("l_extendedprice * (cast(1 as double) - l_discount)")}) AS local_share,
             ${oSumd("l_extendedprice * (cast(1 as double) - l_discount)")} AS total_revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE o_orderdate >= timestamp '1996-01-01'
        AND o_orderdate <  timestamp '1998-01-01'
        AND p_type = 'STANDARD'
        AND r_name = 'EUROPE'
      GROUP BY year(o_orderdate)"""),
    headline = true)

  val all: Seq[QueryDef] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q41, q67, q67r)
}
