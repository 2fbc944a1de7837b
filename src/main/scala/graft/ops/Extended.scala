package graft.ops

import org.apache.spark.sql.functions._
import Q._

/** Additional operator coverage: pivot, generators (explode), custom typed
  * aggregation — rounding out the SURVEY.md §2.2 inventory. */
object Extended {

  /** Pivot (dynamic columns fixed to the known status domain so the output
    * schema is deterministic); oracle is the equivalent conditional agg. */
  val q24 = QueryDef(
    "q24_pivot_status",
    (s, d) => {
      import s.implicits._
      table(s, d, "orders")
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },
    Some("""
      SELECT o_orderpriority,
             cast(count(*) FILTER (WHERE o_orderstatus = 'F') as bigint) AS "F",
             cast(count(*) FILTER (WHERE o_orderstatus = 'O') as bigint) AS "O",
             cast(count(*) FILTER (WHERE o_orderstatus = 'P') as bigint) AS "P"
      FROM orders GROUP BY o_orderpriority"""))

  /** Generator/UDTF shape: explode the tokenized text into rows (the
    * impl_splitter! relational twin) and count word frequencies. */
  val q25 = QueryDef(
    "q25_word_frequencies",
    (s, d) => withViews(s, d, "documents")(s"""
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT explode(split($sNorm, ' ')) AS word FROM documents)
      GROUP BY word
      ORDER BY n DESC, word
      LIMIT 20"""),
    Some(s"""
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split($oNorm, ' ')) AS word FROM documents) t
      GROUP BY word
      ORDER BY n DESC, word
      LIMIT 20"""))

  /** Custom typed Aggregator (fixed-point exact mean — associative across
    * partial-merge order, unlike a double sum). */
  val q26 = QueryDef(
    "q26_custom_aggregator",
    (s, d) => {
      import s.implicits._
      val exactMean = udaf(new graft.functions.ExactMean)
      table(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(exactMean($"l_quantity").as("mean_qty"),
          count(lit(1)).as("n"))
    },
    Some(s"""
      SELECT l_returnflag, ${oAvgd("l_quantity")} AS mean_qty, count(*) AS n
      FROM lineitem GROUP BY l_returnflag"""))

  /** String-function battery (all integer/string-exact across engines). */
  val q29 = QueryDef(
    "q29_string_functions",
    (s, d) => withViews(s, d, "documents")("""
      SELECT doc_id,
             regexp_extract(text, '([a-z]+)', 1) AS first_word,
             lpad(lang, 5, '*') AS lang_pad,
             rpad(source, 8, '-') AS src_pad,
             reverse(source) AS src_rev,
             replace(source, 'src', 'S') AS src_short,
             CAST(instr(text, 'join') AS BIGINT) AS join_pos,
             left(text, 10) AS head10,
             right(source, 2) AS tail2,
             repeat(lang, 3) AS lang3,
             translate(lang, 'aeiou', 'AEIOU') AS lang_vowels,
             split_part(trim(text), ' ', 2) AS second_token,
             CAST(ascii(source) AS BIGINT) AS src_ascii
      FROM documents"""),
    Some("""
      SELECT doc_id,
             regexp_extract(text, '([a-z]+)', 1) AS first_word,
             lpad(lang, 5, '*') AS lang_pad,
             rpad(source, 8, '-') AS src_pad,
             reverse(source) AS src_rev,
             replace(source, 'src', 'S') AS src_short,
             CAST(strpos(text, 'join') AS BIGINT) AS join_pos,
             left(text, 10) AS head10,
             right(source, 2) AS tail2,
             repeat(lang, 3) AS lang3,
             translate(lang, 'aeiou', 'AEIOU') AS lang_vowels,
             split_part(trim(text), ' ', 2) AS second_token,
             CAST(ascii(source) AS BIGINT) AS src_ascii
      FROM documents"""))

  /** Date/time-function battery. */
  val q30 = QueryDef(
    "q30_date_functions",
    (s, d) => withViews(s, d, "orders")(s"""
      SELECT o_orderkey,
             ${sDate("add_months(o_orderdate, 3)")} AS plus3m,
             ${sDate("date_add(CAST(o_orderdate AS DATE), 30)")} AS plus30d,
             ${sDate("last_day(o_orderdate)")} AS month_end,
             ${sDate("trunc(CAST(o_orderdate AS DATE), 'month')")} AS month_start,
             CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
             CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
             CAST(unix_timestamp(o_orderdate) AS BIGINT) AS epoch_s
      FROM orders WHERE o_orderkey % 20 = 0"""),
    Some(s"""
      SELECT o_orderkey,
             ${oDate("cast(o_orderdate as date) + INTERVAL 3 MONTH")} AS plus3m,
             ${oDate("cast(o_orderdate as date) + INTERVAL 30 DAY")} AS plus30d,
             ${oDate("last_day(cast(o_orderdate as date))")} AS month_end,
             ${oDate("date_trunc('month', cast(o_orderdate as date))")} AS month_start,
             CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
             CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
             CAST(epoch(cast(o_orderdate as timestamp)) AS BIGINT) AS epoch_s
      FROM orders WHERE o_orderkey % 20 = 0"""))

  /** Exact percentiles (linear interpolation — same definition both
    * engines; verified bit-exact by the oracle gate). */
  val q31 = QueryDef(
    "q31_percentiles",
    (s, d) => withViews(s, d, "lineitem")("""
      SELECT l_returnflag,
             percentile(l_extendedprice, 0.5) AS p50,
             percentile(l_extendedprice, 0.9) AS p90,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag"""),
    Some("""
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS p50,
             quantile_cont(l_extendedprice, 0.9) AS p90,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag"""))

  /** Mergeable-histogram quantile sketch — q31's scale twin: exact
    * `percentile` buffers every group value on one task (the 100 TB
    * failure mode of percentile aggregation), while the histogram
    * spelling IS a groupBy (q59's count-min economics applied to
    * quantiles): the map-side partial aggregate builds per-partition
    * bucket counts, the exchange merges histograms — ≤ one row per
    * (group, bucket) moves regardless of N — and the quantile
    * interpolates inside the covering bucket. The construction
    * guarantees the estimate's bucket CONTAINS the rank-⌈pN⌉ order
    * statistic, so the error vs that order statistic is at most one
    * bucket width; vs q31's INTERPOLATED percentile the bound is
    * data-dependent (a group whose adjacent order stats straddle a gap
    * wider than a bucket can diverge further — interpolation invents
    * values between them, the histogram does not). The spec pins the
    * one-bucket agreement with q31 on this corpus, where groups are
    * dense; the dial is the bucket width, exactly a production sketch's
    * accuracy/space trade. All arithmetic to the final estimate is
    * exact integers; the estimate itself is one fixed-order IEEE
    * multiply+divide, bit-identical across engines. */
  /** q66's one spelling: the engine runs the oracle's SQL. `c` feeds
    * both the bucket selector and the estimate join, and re-aggregating
    * it per consumer measured faster at 64× than staging it once
    * (SCALE.md "One barrier"). */
  private val q66Sql = """
      WITH h AS (SELECT l_returnflag AS g,
                   CAST(floor(l_extendedprice / 100) AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS n
                 FROM lineitem GROUP BY l_returnflag,
                   CAST(floor(l_extendedprice / 100) AS BIGINT)),
      c AS (SELECT g, b, n,
              sum(n) OVER (PARTITION BY g ORDER BY b) AS cum,
              sum(n) OVER (PARTITION BY g) AS total
            FROM h),
      qs AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) t(p)),
      sel AS (SELECT c.g, qs.p, min(c.b) AS qb
              FROM c JOIN qs
                ON c.cum >= CAST(ceil(qs.p * CAST(c.total AS DOUBLE)) AS BIGINT)
              GROUP BY c.g, qs.p),
      est AS (SELECT s.g, s.p, s.qb, c.total,
                CAST(s.qb * 100 AS DOUBLE)
                  + CAST(100 AS DOUBLE)
                    * CAST(CAST(ceil(s.p * CAST(c.total AS DOUBLE)) AS BIGINT)
                           - (c.cum - c.n) AS DOUBLE)
                    / CAST(c.n AS DOUBLE) AS v
              FROM sel s JOIN c ON c.g = s.g AND c.b = s.qb)
      SELECT g AS l_returnflag, CAST(p AS DOUBLE) AS p,
             CAST(qb AS BIGINT) AS bucket,
             v AS estimate, CAST(total AS BIGINT) AS n
      FROM est"""

  val q66 = QueryDef(
    "q66_quantile_histogram",
    (s, d) => withViews(s, d, "lineitem")(q66Sql),
    Some(q66Sql),
    headline = true)

  /** Array-function battery over the embedding vectors (size/min/max/
    * slice/sort/position/element_at). The output is all-scalar — the
    * driver's hash compare cannot sort frames containing array columns,
    * so the sliced arrays are emitted element-wise instead of as lists. */
  val q32 = QueryDef(
    "q32_array_functions",
    (s, d) => withViews(s, d, "embeddings")("""
      WITH e AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      sl AS (SELECT vec_id, v, slice(v, 1, 3) AS f3,
                    slice(sort_array(v), 1, 3) AS s3
             FROM e)
      SELECT vec_id,
             CAST(size(v) AS BIGINT) AS dim,
             array_max(v) AS vmax,
             array_min(v) AS vmin,
             element_at(f3, 1) AS first_1,
             element_at(f3, 2) AS first_2,
             element_at(f3, 3) AS first_3,
             element_at(s3, 1) AS small_1,
             element_at(s3, 2) AS small_2,
             element_at(s3, 3) AS small_3,
             CAST(array_position(v, array_max(v)) AS BIGINT) AS argmax_pos,
             element_at(v, 64) AS last_elem
      FROM sl"""),
    Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      sl AS (SELECT vec_id, v, v[1:3] AS f3, (list_sort(v))[1:3] AS s3 FROM e)
      SELECT vec_id,
             CAST(len(v) AS BIGINT) AS dim,
             list_aggregate(v, 'max') AS vmax,
             list_aggregate(v, 'min') AS vmin,
             f3[1] AS first_1,
             f3[2] AS first_2,
             f3[3] AS first_3,
             s3[1] AS small_1,
             s3[2] AS small_2,
             s3[3] AS small_3,
             CAST(list_position(v, list_aggregate(v, 'max')) AS BIGINT) AS argmax_pos,
             v[64] AS last_elem
      FROM sl"""))

  private def sDate(e: String): String = s"date_format($e, 'yyyy-MM-dd')"
  private def oDate(e: String): String = s"strftime(cast(($e) as date), '%Y-%m-%d')"

  /** Multiset set operations (INTERSECT ALL / EXCEPT ALL). */
  val q33 = QueryDef(
    "q33_multiset_ops",
    (s, d) => {
      import s.implicits._
      val a = table(s, d, "lineitem").where($"l_quantity" >= 40.0)
        .select($"l_suppkey", $"l_returnflag")
      val b = table(s, d, "lineitem").where($"l_discount" >= 0.05)
        .select($"l_suppkey", $"l_returnflag")
      a.intersectAll(b).withColumn("tag", lit("both"))
        .unionByName(a.exceptAll(b).withColumn("tag", lit("only_heavy")))
        .groupBy($"l_returnflag", $"tag")
        .agg(count(lit(1)).as("n"))
    },
    Some("""
      WITH a AS (SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_quantity >= 40.0),
           b AS (SELECT l_suppkey, l_returnflag FROM lineitem WHERE l_discount >= 0.05),
           u AS (
             SELECT l_returnflag, 'both' AS tag
             FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
             UNION ALL
             SELECT l_returnflag, 'only_heavy' AS tag
             FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
      SELECT l_returnflag, tag, count(*) AS n FROM u GROUP BY l_returnflag, tag"""))

  /** Full-outer join (null sides both ways) + cross join. */
  val q34 = QueryDef(
    "q34_outer_cross_join",
    (s, d) => {
      import s.implicits._
      val perCust = table(s, d, "orders")
        .where($"o_totalprice" > 350000.0)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_big"))
      val rich = cust(s, d).where($"c_acctbal" > 9000.0)
        .select($"c_custkey", $"c_name")
      val fo = rich.join(perCust, $"c_custkey" === $"o_custkey", "full_outer")
        .select(coalesce($"c_custkey", $"o_custkey").as("custkey"),
          coalesce($"c_name", lit("(no-name)")).as("name"),
          coalesce($"n_big", lit(0L)).as("n_big"))
      val cross = table(s, d, "region").crossJoin(
        table(s, d, "nation").select(countDistinct($"n_regionkey").as("n_regions")))
        .select($"r_name", $"n_regions")
      fo.withColumn("r_name", lit(null).cast("string"))
        .withColumn("n_regions", lit(null).cast("long"))
        .unionByName(cross
          .withColumn("custkey", lit(null).cast("long"))
          .withColumn("name", lit(null).cast("string"))
          .withColumn("n_big", lit(null).cast("long")))
    },
    Some("""
      WITH perCust AS (SELECT o_custkey, count(*) AS n_big FROM orders
                       WHERE o_totalprice > 350000.0 GROUP BY o_custkey),
           rich AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0),
           fo AS (SELECT coalesce(c_custkey, o_custkey) AS custkey,
                         coalesce(c_name, '(no-name)') AS name,
                         coalesce(n_big, 0) AS n_big
                  FROM rich FULL OUTER JOIN perCust ON c_custkey = o_custkey),
           cross_part AS (SELECT r_name,
                            (SELECT count(DISTINCT n_regionkey) FROM nation) AS n_regions
                          FROM region)
      SELECT custkey, name, CAST(n_big AS BIGINT) AS n_big,
             CAST(NULL AS VARCHAR) AS r_name, CAST(NULL AS BIGINT) AS n_regions
      FROM fo
      UNION ALL
      SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
             r_name, CAST(n_regions AS BIGINT)
      FROM cross_part"""))

  /** Statistical aggregates from exact decimal sums (population stddev,
    * covariance, Pearson correlation) — associative partials, one IEEE
    * op chain at the end, bit-identical on both engines. */
  val q35 = QueryDef(
    "q35_stats_aggregates",
    (s, d) => {
      import s.implicits._
      table(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sumd($"l_quantity").as("sq"),
          sumd($"l_quantity" * $"l_quantity").as("sqq"),
          sumd($"l_discount").as("sd"),
          sumd($"l_discount" * $"l_discount").as("sdd"),
          sumd($"l_quantity" * $"l_discount").as("sqd"))
        .select($"l_returnflag", $"n",
          sqrt(($"sqq" - $"sq" * $"sq" / $"n") / $"n").as("stddev_pop_qty"),
          (($"sqd" - $"sq" * $"sd" / $"n") / $"n").as("covar_pop"),
          ((($"sqd" - $"sq" * $"sd" / $"n") / $"n") /
            (sqrt(($"sqq" - $"sq" * $"sq" / $"n") / $"n") *
             sqrt(($"sdd" - $"sd" * $"sd" / $"n") / $"n"))).as("corr_qd"))
    },
    Some(s"""
      WITH t AS (SELECT l_returnflag, count(*) AS n,
                   ${oSumd("l_quantity")} AS sq,
                   ${oSumd("l_quantity * l_quantity")} AS sqq,
                   ${oSumd("l_discount")} AS sd,
                   ${oSumd("l_discount * l_discount")} AS sdd,
                   ${oSumd("l_quantity * l_discount")} AS sqd
                 FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             sqrt((sqq - sq * sq / n) / n) AS stddev_pop_qty,
             ((sqd - sq * sd / n) / n) AS covar_pop,
             (((sqd - sq * sd / n) / n) /
              (sqrt((sqq - sq * sq / n) / n) * sqrt((sdd - sd * sd / n) / n))) AS corr_qd
      FROM t"""))

  private def cust(s: org.apache.spark.sql.SparkSession, d: String) =
    table(s, d, "customer")

  /** The custom TopKPerKey physical operator (bounded per-key heaps, no
    * sort — graft.plans) inside the correctness gate. (custkey,
    * totalprice) pairs are tie-free in the driver data, so the result is
    * deterministic vs the window-form oracle. */
  val q36 = QueryDef(
    "q36_topk_custom_operator",
    (s, d) => {
      import s.implicits._
      graft.plans.TopK.perKey(table(s, d, "orders"), Seq("o_custkey"),
        "o_totalprice", k = 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC) AS rn
        FROM orders) t
      WHERE rn <= 3"""),
    headline = true)

  val all: Seq[QueryDef] =
    Seq(q24, q25, q26, q29, q30, q31, q32, q33, q34, q35, q36, q66)
}
