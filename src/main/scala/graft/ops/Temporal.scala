package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin
import Q._

/** Temporal operators: as-of join, plus sketch-style aggregates that have
  * no exact SQL twin (rows-only checked by the driver). */
object Temporal {

  /** As-of join: each purchase event picks up the latest prior (or
    * simultaneous) click by the same user. Oracle is DuckDB's native
    * ASOF LEFT JOIN — both sides must produce identical pairs. */
  val q22 = QueryDef(
    "q22_asof_purchase_click",
    (s, d) => {
      import s.implicits._
      val events = Q.events(s, d)
      val purchases = events.where($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val clicks = events.where($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts", $"value")
      AsOfJoin(purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightCols = Seq("event_id", "value"), prefix = "click_")
        .select($"event_id", $"user_id", tsStr($"ts").as("pts"),
          $"value", $"click_event_id", $"click_value")
    },
    Some(s"""
      WITH p AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts, value
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts, value
                 FROM events WHERE event_type = 'click')
      SELECT p.event_id AS event_id, p.user_id AS user_id,
             ${oTsStr("p.ts")} AS pts, p.value AS value,
             c.event_id AS click_event_id, c.value AS click_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.ts"""),
    headline = true)

  /** HyperLogLog approximate distinct. The sketch estimate can't hash-match
    * an exact oracle directly, so the query emits the exact distinct count
    * plus a `within_bounds` flag (|approx − exact| / exact < 5%, well above
    * HLL's configured 1% rsd) and the oracle emits the exact count with a
    * literal `true` — the hashes match iff the sketch is in bounds. */
  val q23 = QueryDef(
    "q23_approx_distinct",
    (s, d) => {
      import s.implicits._
      table(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          count_distinct($"l_partkey").as("exact_parts"),
          approx_count_distinct($"l_partkey", 0.01).as("approx"))
        .select($"l_returnflag", $"n", $"exact_parts",
          (abs($"approx" - $"exact_parts").cast("double") /
            $"exact_parts" < 0.05).as("within_bounds"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             true AS within_bounds
      FROM lineitem GROUP BY l_returnflag"""))

  /** GROUPING SETS (beyond rollup/cube): explicit per-dimension totals. */
  val q27 = QueryDef(
    "q27_grouping_sets",
    (s, d) => withViews(s, d, "lineitem")(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n, ${oSumd("l_extendedprice")} AS sum_price
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),
    Some(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n, ${oSumd("l_extendedprice")} AS sum_price
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""))

  /** Keyed interval join via the bucketed RangeJoin operator: clicks by
    * the same user within the hour before each purchase. Oracle uses the
    * plain inequality join (DuckDB plans it as an IEJoin). */
  val q28 = QueryDef(
    "q28_range_join",
    (s, d) => {
      import s.implicits._
      val events = Q.events(s, d)
      val purchases = events.where($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val clicks = events.where($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts", $"value")
      graft.operators.RangeJoin(purchases, clicks,
        key = "user_id", leftTime = "ts", rightTime = "ts",
        before = scala.concurrent.duration.DurationInt(1).hour,
        rightCols = Seq("event_id", "ts", "value"), prefix = "click_")
        .select($"event_id".as("purchase_id"), $"user_id",
          tsStr($"ts").as("pts"), $"click_event_id".as("click_id"),
          tsStr($"click_ts").as("cts"), $"click_value")
    },
    Some(s"""
      WITH p AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts, value
                 FROM events WHERE event_type = 'click')
      SELECT p.event_id AS purchase_id, p.user_id AS user_id,
             ${oTsStr("p.ts")} AS pts, c.event_id AS click_id,
             ${oTsStr("c.ts")} AS cts, c.value AS click_value
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts"""),
    headline = true)

  /** Skew-tolerant salted join in the gate: events (the side where one
    * hot user would pin a whole task) joined to customers through
    * [[graft.operators.SaltedJoin]] — key becomes (key, salt), the hot key
    * spreads over 8 tasks, and the result set is PROVABLY identical to
    * the plain join (the oracle runs the unsalted SQL). The aggregate
    * keeps gate output bounded; at scale the salted shuffle is what keeps
    * the p99 task from owning the whole join. */
  val q55 = QueryDef(
    "q55_salted_join",
    (s, d) => {
      import s.implicits._
      val ev = events(s, d).select($"user_id", $"value")
      val cust = table(s, d, "customer")
        .select($"c_custkey".as("user_id"), $"c_nationkey")
      graft.operators.SaltedJoin(ev, cust, "user_id", 8)
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_events"), sumd($"value").as("sum_value"))
    },
    Some(s"""
      SELECT c.c_nationkey, count(*) AS n_events,
             ${oSumd("e.value")} AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c.c_nationkey"""))

  /** Funnel attribution window (micros), shared engine↔oracle: each
    * stage must fire within 24 h of the previous one, which is what
    * creates real drop-off (150 → 60 → 25 users at sf0.01; the unbounded
    * spelling converts every user over the month-long event span). */
  private[graft] val funnelWindowUs: Long = 24L * 3600L * 1000000L

  /** Conversion-funnel analysis over the event stream: per user, the
    * first `view`, the first `click` within the attribution window after
    * it, and the first `purchase` within the window after that — the
    * staged-reachability query behind product funnels, reported as
    * per-stage user counts, exact summed latencies (BIGINT micros), and
    * the view→purchase rate (one IEEE division of exact counts).
    *
    * Shape: ONE shuffle on user_id, then a (user, time) sort feeding two
    * RUNNING-MIN windows and a partial-aggregatable groupBy — O(1) state
    * per user, no per-user array anywhere. The first spelling collected
    * each user's events into an array (`collect_list`), which is
    * unbounded in event count: one power user with 10⁸ events is a
    * single un-spillable task OOM at 100 TB. The running-min spelling is
    * skew-proof — the sort spills, the windows keep one value of state —
    * and EXACT, not an approximation: `tv_run` (min view time over rows
    * sorted ≤ current) equals the global first-view time wherever the
    * qualifying conditions can pass (a click only qualifies when a view
    * precedes it, and then every earlier view is in its frame — same
    * argument chains to `tc_run` for purchases), so per-row
    * qualification with running mins selects exactly the globally
    * qualifying events; ScaleSpec re-proves equality against an
    * independent driver-local fold on synthetic hot-user data. The
    * DuckDB oracle keeps the array spelling: single-node, no task-memory
    * bound, and an INDEPENDENT derivation of the same semantics. */
  /** Engine SQL of q60-q63, named so the fused one-shuffle pass
    * ([[fusedEventSuite]]) can run the IDENTICAL statements over a shared
    * co-partitioned base — one source of truth, zero drift. */
  private[graft] def q60Sql(view: String = "events"): String = s"""
      WITH e AS (SELECT user_id, unix_micros(ts) AS t, event_type AS et
                 FROM $view WHERE event_type IN ('view', 'click', 'purchase')),
      w1 AS (SELECT user_id, t, et,
               min(CASE WHEN et = 'view' THEN t END) OVER
                 (PARTITION BY user_id ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tv_run
             FROM e),
      w2 AS (SELECT user_id, t, et, tv_run,
               min(CASE WHEN et = 'click' AND t > tv_run
                     AND t <= tv_run + $funnelWindowUs THEN t END) OVER
                 (PARTITION BY user_id ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tc_run
             FROM w1),
      u AS (SELECT user_id,
              min(CASE WHEN et = 'view' THEN t END) AS tv,
              min(CASE WHEN et = 'click' AND t > tv_run
                    AND t <= tv_run + $funnelWindowUs THEN t END) AS tc,
              min(CASE WHEN et = 'purchase' AND t > tc_run
                    AND t <= tc_run + $funnelWindowUs THEN t END) AS tp
            FROM w2 GROUP BY user_id)
      SELECT CAST(count(tv) AS BIGINT) AS n_view,
             CAST(count(tc) AS BIGINT) AS n_click,
             CAST(count(tp) AS BIGINT) AS n_purchase,
             CAST(sum(tc - tv) AS BIGINT) AS sum_click_us,
             CAST(sum(tp - tv) AS BIGINT) AS sum_purchase_us,
             CAST(count(tp) AS DOUBLE) / CAST(count(tv) AS DOUBLE) AS conversion
      FROM u"""

  val q60 = QueryDef(
    "q60_conversion_funnel",
    (s, d) => withViews(s, d, "events")(q60Sql()),
    Some(s"""
      WITH e AS (SELECT user_id, epoch_us(cast(ts AS timestamp)) AS t,
                        event_type AS et
                 FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      u AS (SELECT user_id, list(struct_pack(t := t, et := et)) AS seq
            FROM e GROUP BY user_id),
      f1 AS (SELECT user_id, seq,
               list_min(list_transform(list_filter(seq, x -> x.et = 'view'),
                 x -> x.t)) AS tv
             FROM u),
      f2 AS (SELECT user_id, seq, tv,
               list_min(list_transform(list_filter(seq,
                 x -> x.et = 'click' AND x.t > tv
                   AND x.t <= tv + $funnelWindowUs), x -> x.t)) AS tc
             FROM f1),
      f3 AS (SELECT user_id, tv, tc,
               list_min(list_transform(list_filter(seq,
                 x -> x.et = 'purchase' AND x.t > tc
                   AND x.t <= tc + $funnelWindowUs), x -> x.t)) AS tp
             FROM f2)
      SELECT CAST(count(tv) AS BIGINT) AS n_view,
             CAST(count(tc) AS BIGINT) AS n_click,
             CAST(count(tp) AS BIGINT) AS n_purchase,
             CAST(sum(tc - tv) AS BIGINT) AS sum_click_us,
             CAST(sum(tp - tv) AS BIGINT) AS sum_purchase_us,
             CAST(count(tp) AS DOUBLE) / CAST(count(tv) AS DOUBLE) AS conversion
      FROM f3"""),
    headline = true)

  /** Cohort-retention matrix over the event stream — the classic
    * retention triangle: users cohorted by signup week, each cohort's
    * active-user count at week offsets 0, 1, 2… (active = made a PURCHASE
    * that week — the engagement event; any-event activity measured ~1.0
    * retention on this data, a meaningless curve), plus the retention
    * fraction (one IEEE division of exact
    * counts).
    *
    * Shape: one user-keyed aggregate for signup weeks, one distinct
    * (user, week) activity pass, one user-keyed join, then a
    * metadata-width (cohort, offset) aggregate. `count(*)` in the cell
    * aggregate is deliberate: the joined frame is distinct per
    * (user, week) and offset is a bijection of week given the cohort, so
    * a `count(DISTINCT)` would add an Expand pass (q50's lesson) for the
    * same number. Week truncation is Monday-start in both engines;
    * week offsets are exact integer day arithmetic. */
  private[graft] def q61Sql(view: String = "events"): String = s"""
      WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
                        event_type
                 FROM $view),
      sg AS (SELECT user_id, min(wk) AS cw FROM e
             WHERE event_type = 'signup' GROUP BY user_id),
      a AS (SELECT DISTINCT user_id, wk FROM e WHERE event_type = 'purchase'),
      j AS (SELECT sg.user_id, sg.cw,
              CAST(datediff(a.wk, sg.cw) div 7 AS BIGINT) AS wk_offset
            FROM sg JOIN a ON sg.user_id = a.user_id WHERE a.wk >= sg.cw),
      cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
             FROM sg GROUP BY cw),
      r AS (SELECT cw, wk_offset, CAST(count(*) AS BIGINT) AS n_active
            FROM j GROUP BY cw, wk_offset)
      SELECT date_format(r.cw, 'yyyy-MM-dd') AS cohort_week,
             r.wk_offset, r.n_active, cs.cohort_size,
             CAST(r.n_active AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE)
               AS retention
      FROM r JOIN cs ON r.cw = cs.cw"""

  /** Standalone q61 runs a SINGLE-SCAN spelling (round 11,
    * StageProfile-driven): the SQL's `e` CTE is referenced by both `sg`
    * and `a`, and `sg` again by `j` and `cs` — Catalyst inlines
    * multiply-referenced CTEs (t11's lesson), so the SQL pays THREE full
    * event scans standalone (measured 2.29 s at 64×, 14.5× of DuckDB —
    * the round-10 weak set's worst entry). Here one scan + one user_id
    * shuffle aggregates signup week AND the distinct purchase-week set
    * per user; the resulting frame is metadata-width (one row per
    * signed-up user), checkpointed, and both the cohort-size and
    * retention aggregates derive from its blocks. Inside the fused q65
    * pass the SQL spelling stays correct-by-construction: its triple
    * reference hits the already-materialized co-partitioned base, not
    * the parquet scan. Both spellings are independently oracle-gated. */
  /** q61's bitmask spelling dial (`-Dgraft.q61.mask`, round-13 verdict
    * item 5). The weak-set decomposition blamed q61's 2.7× marginal on
    * the `collect_set(purchase weeks)` ObjectHashAggregate — a growing
    * object buffer per user, outside whole-stage codegen. Here the
    * purchase-week SET packs into ONE BIGINT by MODULAR position:
    * `bit_or(1 << (week_index % 64))` needs no anchor (the first
    * spelling's global-min pass + broadcast cross join was measured
    * LOSING 1.5× at 256× to the two extra scan passes it cost), and the
    * per-user decode `wk = pmin + ((bit − pmin) mod 64)` is exact
    * whenever the user's purchase span is < 64 weeks — the natural
    * retention-matrix horizon, and a much weaker premise than the
    * anchor spelling's global-span bound. The aggregate is a flat
    * four-long codegen'd HashAggregate buffer (cohort week, purchase
    * min/max, mask): ONE scan, ONE user-keyed exchange, no object
    * aggregate anywhere. A user whose purchase span exceeds 64 weeks
    * fails LOUDLY (`assert_true` folded into the decode lambda) — never
    * a silently wrong matrix. A `def` so the equality spec can pin both
    * spellings in one JVM. */
  private[graft] def q61MaskDial: Boolean =
    Profile.dial("graft.q61.mask", onUnderCluster = true)

  private[graft] def q61Masked(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // week index since a fixed epoch MONDAY (1970-01-05), exact: wk is
    // week-truncated so the datediff is divisible by 7
    val e = Q.events(s, d)
      .where($"event_type".isin("signup", "purchase"))
      .selectExpr("user_id", "event_type",
        "CAST(datediff(CAST(date_trunc('week', ts) AS DATE), DATE'1970-01-05') div 7 AS BIGINT) AS wk_i")
    val u = roundCheckpoint(
      e.groupBy($"user_id")
        .agg(
          min(when($"event_type" === "signup", $"wk_i")).as("cw"),
          min(when($"event_type" === "purchase", $"wk_i")).as("pmin"),
          max(when($"event_type" === "purchase", $"wk_i")).as("pmax"),
          expr("""bit_or(CASE WHEN event_type = 'purchase'
                              THEN shiftleft(CAST(1 AS BIGINT), CAST(wk_i % 64 AS INT))
                              ELSE CAST(0 AS BIGINT) END)""").as("mask"))
        .where($"cw".isNotNull))
    val cs = u.groupBy($"cw").agg(count(lit(1)).as("cohort_size"))
    // decode set bits back to absolute week indexes: bits are unique per
    // user iff the purchase span fits 64 weeks — guarded in the lambda so
    // a wider corpus fails loudly instead of aliasing cohor cells
    val r = u
      .selectExpr("cw",
        """explode(transform(
             filter(sequence(0, 63), b -> (shiftright(mask, b) & 1) = 1),
             b -> CASE WHEN pmax - pmin >= 64
                       THEN CAST(assert_true(false,
                         'q61 mask spelling: a user purchase span exceeds the 64-week window — use the collect_set spelling') AS BIGINT)
                       ELSE pmin + pmod(CAST(b AS BIGINT) - pmin, 64) END)) AS wk""")
      .where($"wk" >= $"cw")
      .selectExpr("cw", "CAST(wk - cw AS BIGINT) AS wk_offset")
      .groupBy($"cw", $"wk_offset")
      .agg(count(lit(1)).as("n_active"))
    r.join(cs, "cw")
      .selectExpr(
        "date_format(date_add(DATE'1970-01-05', CAST(cw * 7 AS INT)), 'yyyy-MM-dd') AS cohort_week",
        "wk_offset", "n_active", "cohort_size",
        "CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention")
  }

  val q61 = QueryDef(
    "q61_cohort_retention",
    (s, d) => if (q61MaskDial) q61Masked(s, d) else {
      import s.implicits._
      val e = Q.events(s, d)
        .where($"event_type".isin("signup", "purchase"))
        .select($"user_id",
          date_trunc("week", $"ts").cast("date").as("wk"), $"event_type")
      val u = roundCheckpoint(
        e.groupBy($"user_id")
          .agg(min(when($"event_type" === "signup", $"wk")).as("cw"),
            collect_set(when($"event_type" === "purchase", $"wk")).as("pws"))
          .where($"cw".isNotNull))
      val cs = u.groupBy($"cw").agg(count(lit(1)).as("cohort_size"))
      val r = u.select($"cw", explode($"pws").as("wk"))
        .where($"wk" >= $"cw")
        .select($"cw", expr("CAST(datediff(wk, cw) div 7 AS BIGINT)").as("wk_offset"))
        .groupBy($"cw", $"wk_offset").agg(count(lit(1)).as("n_active"))
      r.join(cs, "cw")
        .select(date_format($"cw", "yyyy-MM-dd").as("cohort_week"),
          $"wk_offset", $"n_active", $"cohort_size",
          ($"n_active".cast("double") / $"cohort_size".cast("double"))
            .as("retention"))
    },
    Some(s"""
      WITH e AS (SELECT user_id,
                        CAST(date_trunc('week', cast(ts AS timestamp)) AS DATE) AS wk,
                        event_type
                 FROM events),
      sg AS (SELECT user_id, min(wk) AS cw FROM e
             WHERE event_type = 'signup' GROUP BY user_id),
      a AS (SELECT DISTINCT user_id, wk FROM e WHERE event_type = 'purchase'),
      j AS (SELECT sg.user_id, sg.cw,
              CAST((a.wk - sg.cw) // 7 AS BIGINT) AS wk_offset
            FROM sg JOIN a ON sg.user_id = a.user_id WHERE a.wk >= sg.cw),
      cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
             FROM sg GROUP BY cw),
      r AS (SELECT cw, wk_offset, CAST(count(*) AS BIGINT) AS n_active
            FROM j GROUP BY cw, wk_offset)
      SELECT ${Q.oDateStr("r.cw")} AS cohort_week,
             r.wk_offset, r.n_active, cs.cohort_size,
             CAST(r.n_active AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE)
               AS retention
      FROM r JOIN cs ON r.cw = cs.cw"""))

  /** Event-type transition matrix — the first-order Markov chain behind
    * "next action" product analytics: per user, events ordered by time;
    * each consecutive (a → b) pair counts one transition; output is the
    * (a, b) count plus the row-normalized transition probability (one
    * IEEE division of exact counts). Ties in `ts` break on `event_id`,
    * so the sequence — and the matrix — is deterministic on both engines.
    *
    * Shape: ONE shuffle on user_id feeding a (user, time) sort with an
    * O(1)-state `lead` window (the sort spills; no per-user array), then
    * two metadata-width aggregates — the output is ≤ |event_types|² rows
    * regardless of N, and the row-total join broadcasts. The same
    * skew-proof argument as q60: a 10⁸-event power user is just a longer
    * sorted run, never a collected list. */
  private[graft] def q62Sql(view: String = "events"): String = s"""
      WITH p AS (SELECT event_type AS a,
               lead(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS b
             FROM $view),
      t AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE b IS NOT NULL GROUP BY a, b),
      ta AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM t GROUP BY a)
      SELECT t.a, t.b, t.n,
             CAST(t.n AS DOUBLE) / CAST(ta.na AS DOUBLE) AS prob
      FROM t JOIN ta ON t.a = ta.a"""

  val q62 = QueryDef(
    "q62_transition_matrix",
    (s, d) => withViews(s, d, "events")(q62Sql()),
    Some("""
      WITH p AS (SELECT event_type AS a,
               lead(event_type) OVER
                 (PARTITION BY user_id ORDER BY cast(ts AS timestamp), event_id) AS b
             FROM events),
      t AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE b IS NOT NULL GROUP BY a, b),
      ta AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM t GROUP BY a)
      SELECT t.a, t.b, t.n,
             CAST(t.n AS DOUBLE) / CAST(ta.na AS DOUBLE) AS prob
      FROM t JOIN ta ON t.a = ta.a"""))

  /** Per-event-type inter-arrival statistics — the burst/cadence profile
    * behind rate anomaly detection: for each user and event type, the gap
    * to the user's previous event of the SAME type (lag over a (user,
    * time) sort), aggregated per type as exact BIGINT micros (count, min,
    * max, sum) plus the mean as one IEEE division. Ties break on
    * event_id; all arithmetic is integer until the final division, so
    * both engines agree bitwise. Same skew-proof single-shuffle shape as
    * q60/q62: O(1) lag state per (user, type) run, spillable sort, and a
    * ≤|event_types|-row output at any N. */
  private[graft] def q63Sql(view: String = "events"): String = s"""
      WITH g AS (SELECT event_type,
               unix_micros(ts) - lag(unix_micros(ts)) OVER
                 (PARTITION BY user_id, event_type
                  ORDER BY ts, event_id) AS gap_us
             FROM $view)
      SELECT event_type, CAST(count(gap_us) AS BIGINT) AS n_gaps,
             CAST(min(gap_us) AS BIGINT) AS min_us,
             CAST(max(gap_us) AS BIGINT) AS max_us,
             CAST(sum(gap_us) AS BIGINT) AS sum_us,
             CAST(sum(gap_us) AS DOUBLE) / CAST(count(gap_us) AS DOUBLE)
               AS mean_us
      FROM g WHERE gap_us IS NOT NULL GROUP BY event_type"""

  val q63 = QueryDef(
    "q63_interarrival_stats",
    (s, d) => withViews(s, d, "events")(q63Sql()),
    Some("""
      WITH g AS (SELECT event_type,
               epoch_us(cast(ts AS timestamp)) - lag(epoch_us(cast(ts AS timestamp))) OVER
                 (PARTITION BY user_id, event_type
                  ORDER BY cast(ts AS timestamp), event_id) AS gap_us
             FROM events)
      SELECT event_type, CAST(count(gap_us) AS BIGINT) AS n_gaps,
             CAST(min(gap_us) AS BIGINT) AS min_us,
             CAST(max(gap_us) AS BIGINT) AS max_us,
             CAST(sum(gap_us) AS BIGINT) AS sum_us,
             CAST(sum(gap_us) AS DOUBLE) / CAST(count(gap_us) AS DOUBLE)
               AS mean_us
      FROM g WHERE gap_us IS NOT NULL GROUP BY event_type"""))

  /** Fused one-shuffle/four-output pass over the temporal event suite:
    * q60-q63 each pay a full events scan + user_id exchange + job setup
    * over the same stream, and at trivial absolute work those shared
    * constants dominate (all four sit in SCALE.md's >2×-at-64× weak set).
    * This variant stages ONE co-partitioned base — the events scan
    * repartitioned on `user_id` and sorted within partitions on
    * (user_id, ts, event_id), materialized via [[fusedBase]]'s
    * checkpoint — then runs the
    * FOUR UNCHANGED engine SQL statements ([[q60Sql]]..[[q63Sql]] — one
    * source of truth with the gate rows) against it and unions the tagged
    * JSON-encoded outputs into one job.
    *
    * Why it's cheaper: hash partitioning on `user_id` satisfies every
    * branch's clustered distribution (q63's (user_id, event_type) window
    * included — a superset clustering), so no branch re-exchanges the
    * stream; the scan + parse + big shuffle happen once instead of four
    * times and the per-job constant is paid once (PlanShapeSpec pins the
    * no-user_id-re-exchange contract). At 100 TB the same argument is the
    * classic multi-query optimization: the shuffle is the dominant cost
    * and it's shared. Equality with the four individual gate queries is
    * spec-pinned; measured wins are committed in SCALE.md. */
  def fusedEventSuite(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    fusedBase(s, d)
    def tagged(tag: String, sql: String) = {
      val df = s.sql(sql)
      df.select(lit(tag).as("q"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("payload"))
    }
    tagged("q60", q60Sql(fusedView))
      .unionAll(tagged("q61", q61Sql(fusedView)))
      .unionAll(tagged("q62", q62Sql(fusedView)))
      .unionAll(tagged("q63", q63Sql(fusedView)))
  }

  /** Build + register the shared co-partitioned events base for the fused
    * pass, staged once per (dir, session) and shared by q65 and
    * fusedEventSuite. The staged leaf keeps the base's user_id hash
    * partitioning and (user_id, ts, event_id) ordering, so no branch
    * re-exchanges on user_id (pinned in PlanShapeSpec). */
  private def fusedBase(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    val base = Q.staged("fused_base", d) {
      // project BEFORE the exchange (guide §2.3): the four branch
      // statements (q60Sql..q63Sql) read only (user_id, ts, event_id,
      // event_type), and every column present at the barrier is paid in
      // full
      Q.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
    }
    // SCOPED view name (round-10 verdict item 5): registering the
    // repartitioned+sorted base as the session-wide `events` view meant
    // any later query reading `events` without re-registering silently
    // inherited the co-partitioned variant (call-order coupling). The
    // four branch SQL statements are parameterized over the view name
    // and read `events_fused` inside the fused pass only; a gate query
    // run AFTER q65 sees pristine `events` (spec-pinned in ScaleSpec).
    base.createOrReplaceTempView(fusedView)
  }

  /** The fused pass's scoped view name for the co-partitioned base. */
  private[graft] val fusedView = "events_fused"

  /** The fused pass as a first-class, oracle-gated query: the four branch
    * outputs land in one typed frame — `q` tags the branch; `k1`/`k2`
    * carry the branch's string keys (cohort week, transition endpoints,
    * event type); `c1..c5` its exact BIGINT measures in declaration
    * order; `r` its one IEEE-division ratio. Typed columns (not JSON
    * strings) so the driver's sorted-row hash compare applies unchanged —
    * the doubles are the identical bit patterns the four individual gate
    * rows already prove. The oracle is the four UNCHANGED gate oracles
    * under the same projection, UNION ALL'd; unused measure slots are
    * typed NULLs on both engines. */
  private val nullC = "CAST(NULL AS BIGINT)"
  val q65 = QueryDef(
    "q65_fused_event_suite",
    (s, d) => {
      fusedBase(s, d)
      val nl = lit(null).cast("bigint")
      s.sql(q60Sql(fusedView)).select(lit("q60").as("q"), lit("").as("k1"), lit("").as("k2"),
          col("n_view").as("c1"), col("n_click").as("c2"),
          col("n_purchase").as("c3"), col("sum_click_us").as("c4"),
          col("sum_purchase_us").as("c5"), col("conversion").as("r"))
        .unionAll(s.sql(q61Sql(fusedView)).select(lit("q61").as("q"),
          col("cohort_week").as("k1"), lit("").as("k2"),
          col("wk_offset").as("c1"), col("n_active").as("c2"),
          col("cohort_size").as("c3"), nl.as("c4"), nl.as("c5"),
          col("retention").as("r")))
        .unionAll(s.sql(q62Sql(fusedView)).select(lit("q62").as("q"),
          col("a").as("k1"), col("b").as("k2"), col("n").as("c1"),
          nl.as("c2"), nl.as("c3"), nl.as("c4"), nl.as("c5"),
          col("prob").as("r")))
        .unionAll(s.sql(q63Sql(fusedView)).select(lit("q63").as("q"),
          col("event_type").as("k1"), lit("").as("k2"),
          col("n_gaps").as("c1"), col("min_us").as("c2"),
          col("max_us").as("c3"), col("sum_us").as("c4"), nl.as("c5"),
          col("mean_us").as("r")))
    },
    Some(s"""
      SELECT 'q60' AS q, '' AS k1, '' AS k2, n_view AS c1, n_click AS c2,
             n_purchase AS c3, sum_click_us AS c4, sum_purchase_us AS c5,
             conversion AS r
      FROM (${q60.oracle.get})
      UNION ALL
      SELECT 'q61', cohort_week, '', wk_offset, n_active, cohort_size,
             $nullC, $nullC, retention
      FROM (${q61.oracle.get})
      UNION ALL
      SELECT 'q62', a, b, n, $nullC, $nullC, $nullC, $nullC, prob
      FROM (${q62.oracle.get})
      UNION ALL
      SELECT 'q63', event_type, '', n_gaps, min_us, max_us, sum_us, $nullC,
             mean_us
      FROM (${q63.oracle.get})"""),
    headline = true)

  val all: Seq[QueryDef] = Seq(q22, q23, q27, q28, q55, q60, q61, q62, q63, q65)
}
