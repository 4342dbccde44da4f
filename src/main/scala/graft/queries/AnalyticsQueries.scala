package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Funnel, SkewOps}
import graft.sources.Tables
import graft.streaming.Sessionize

/** Beyond-parity analytics: full window-function surface, rollup,
  * exact distinct counts, sessionization, and skew-safe aggregation —
  * the OLAP capabilities the reference lacks but an analytics engine at
  * 100 TB needs.
  */
object AnalyticsQueries {

  /** Sessionization (batch): 30-min-gap sessions per user. */
  private val sessionize = Q("q_events_sessionize",
    (s, dir) => Sessionize.batch(Tables.load(s, dir, "events")),
    """
      WITH l AS (
        SELECT user_id, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      f AS (
        SELECT user_id, ts,
          CASE WHEN prev_ts IS NULL
                 OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS ns,
          event_id
        FROM l),
      se AS (
        SELECT user_id, ts,
          CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, count(*) AS n_events,
        min(ts) AS session_start, max(ts) AS session_end
      FROM se GROUP BY user_id, session_id""")

  /** Window analytics: rank / lag-diff / running count / ntile over a
    * totally ordered per-customer frame. */
  private val windowAnalytics = Q("q_window_analytics",
    (s, dir) => {
      val byCust = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("rnk", rank().over(byCust).cast("long"))
        .withColumn("running_n", count(lit(1)).over(
          byCust.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(byCust))
        .withColumn("quartile", ntile(4).over(byCust).cast("long"))
    },
    """
      SELECT o_orderkey, o_custkey, o_totalprice,
        CAST(rank() OVER w AS BIGINT) AS rnk,
        count(*) OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
        lag(o_totalprice) OVER w AS prev_price,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""")

  /** Rollup with exact decimal sums (subtotal + grand-total rows). */
  private val rollup = Q("q_agg_rollup",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)))
            .cast("double").as("sum_base")),
    """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")

  /** Exact distinct counts (the expensive-but-precise form; the approx
    * HLL variant has no cross-engine oracle). */
  private val distinctCount = Q("q_agg_distinct_exact",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")),
    """
      SELECT l_returnflag,
        count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps,
        count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag""")

  /** Salted two-phase aggregation ≡ direct aggregation (the skew-safe
    * plan shape, verified by the direct-form oracle). */
  private val salted = Q("q_skew_salted_agg",
    (s, dir) => SkewOps.saltedAgg(
      Tables.load(s, dir, "lineitem"),
      key = col("l_suppkey"), sumCol = col("l_quantity"), salts = 16,
      spreader = col("l_orderkey"),
      keyName = "l_suppkey", countName = "n", sumName = "sum_qty"),
    """
      SELECT l_suppkey, count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_suppkey""")

  /** Typed top-k Aggregator (bounded map-side combine) ≡ window top-k:
    * shuffle volume O(groups·k) instead of all rows — the skew/scale-safe
    * top-k form, verified against the window-form oracle. */
  private val topkAgg = Q("q_topk_aggregator",
    (s, dir) => {
      val topk = udaf(new graft.functions.TopKDoubles(3),
        org.apache.spark.sql.Encoders.scalaDouble)
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(topk(col("l_extendedprice")).as("prices"))
        .select(col("l_orderkey"), posexplode(col("prices")))
        .select(col("l_orderkey"), (col("pos") + 1).cast("long").as("rank"),
          col("col").as("price"))
    },
    """
      SELECT l_orderkey, CAST(rn AS BIGINT) AS rank, l_extendedprice AS price
      FROM (SELECT l_orderkey, l_extendedprice,
              row_number() OVER (PARTITION BY l_orderkey
                ORDER BY l_extendedprice DESC) AS rn
            FROM lineitem)
      WHERE rn <= 3""")

  /** Exact percentiles (R-7 linear interpolation in both engines);
    * quantity is integer-valued so interpolants stay exact. */
  private val percentiles = Q("q_agg_percentiles",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty")),
    """
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS median_qty,
        quantile_cont(l_quantity, 0.9) AS p90_qty,
        min(l_quantity) AS min_qty,
        max(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_returnflag""")

  /** CUBE over two dims (rollup's superset: all grouping combinations). */
  private val cube = Q("q_agg_cube",
    (s, dir) =>
      Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(12, 2)))
            .cast("double").as("sum_price")),
    """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")

  /** Pivot: one column per l_returnflag value (the conditional-aggregation
    * reshape; oracle expresses it as CASE sums). */
  private val pivot = Q("q_agg_pivot",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))
        .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r")),
    """
      SELECT l_linestatus,
        sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
      FROM lineitem GROUP BY l_linestatus""")

  /** As-of join: each click enriched with the user's latest prior signup
    * — Spark lacks the operator; composed via union + carry-forward
    * window (AsOfJoin.latestPrior). The oracle uses DuckDB's NATIVE
    * ASOF LEFT JOIN, so the composition is checked against a first-class
    * implementation of the semantics. */
  private val asof = Q("q_asof_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"), col("ts"),
          col("value").as("signup_value"))
      graft.operators.AsOfJoin.latestPrior(clicks, signups,
        key = "user_id", ts = "ts", leftId = "event_id",
        rightCols = Seq("signup_id", "signup_value"))
        .select(col("event_id"), col("user_id"),
          col("asof_signup_id").as("signup_id"),
          col("asof_signup_value").as("signup_value"))
    },
    """
      WITH clicks AS (SELECT event_id, user_id, ts FROM events
                      WHERE event_type = 'click'),
           signups AS (SELECT event_id AS signup_id, user_id, ts,
                         value AS signup_value
                       FROM events WHERE event_type = 'signup')
      SELECT c.event_id, c.user_id, s.signup_id, s.signup_value
      FROM clicks c ASOF LEFT JOIN signups s
        ON c.user_id = s.user_id AND s.ts <= c.ts""")

  /** Salted skew-safe join ≡ plain join (same oracle): the hot-key
    * mitigation for joins that can't broadcast. */
  private val saltedJoin = Q("q_skew_salted_join",
    (s, dir) => {
      val joined = SkewOps.saltedJoin(
        Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity"),
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        factKey = "l_suppkey", dimKey = "s_suppkey", salts = 8,
        spreader = col("l_orderkey"))
      joined.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    },
    """
      SELECT s_nationkey, count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey""")

  /** Approximate sketches (HLL distinct, approx quantiles). The raw
    * approximations can never hash-match a different engine's sketches,
    * so the checkable projection is error-BOUNDED: exact distinct count
    * (cross-checked against DuckDB's exact value) plus booleans asserting
    * each sketch sits within its documented error — HLL rsd 0.05, taken
    * at 3 sigma; approx_percentile(accuracy=1000) bounded by the exact
    * p45/p55 quantiles, far wider than its 1/1000 rank-error guarantee.
    * A sketch drifting out of bounds flips a boolean and fails the hash
    * gate. */
  private val sketches = Q("q_agg_approx_sketches",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.05).as("__approx"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("__amed"),
          expr("percentile(l_extendedprice, 0.45)").as("__p45"),
          expr("percentile(l_extendedprice, 0.55)").as("__p55"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")) <=
            col("exact_parts") * 0.15).as("distinct_ok"),
          (col("__amed") >= col("__p45") && col("__amed") <= col("__p55"))
            .as("median_ok")),
    """
      SELECT l_returnflag,
        count(DISTINCT l_partkey) AS exact_parts,
        true AS distinct_ok, true AS median_ok
      FROM lineitem GROUP BY l_returnflag""")

  /** Keyed range join: every event lands in exactly one of its user's
    * sessions (intervals from the sessionizer) — equi-join on user with
    * the range as residual, aggregated to events-per-session. */
  private val rangeJoin = Q("q_range_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events").select("event_id", "user_id", "ts")
      val sessions = Sessionize.batch(Tables.load(s, dir, "events"))
      graft.operators.RangeJoin.keyedInterval(ev, sessions,
        key = "user_id", ts = "ts",
        startCol = "session_start", endCol = "session_end")
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_joined"))
    },
    """
      WITH l AS (
        SELECT user_id, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      f AS (
        SELECT user_id, ts,
          CASE WHEN prev_ts IS NULL
                 OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS ns,
          event_id
        FROM l),
      se AS (
        SELECT user_id, ts,
          CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f),
      sessions AS (
        SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
        FROM se GROUP BY user_id, session_id)
      SELECT e.user_id, s.session_id, count(*) AS n_joined
      FROM events e JOIN sessions s
        ON e.user_id = s.user_id
       AND e.ts >= s.session_start AND e.ts <= s.session_end
      GROUP BY e.user_id, s.session_id""")

  /** Unkeyed interval join: clicks landed into one-hour signup windows
    * with NO shared key — the bucketing rewrite (explode intervals over
    * overlapped buckets, equi-join on bucket, exact residual). The naive
    * plan is a nested loop; this one is a hash join (plan-asserted). */
  private val rangeJoinUnkeyed = Q("q_range_join_unkeyed",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"))
      val windows = ev.where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      graft.operators.RangeJoin.unkeyedInterval(clicks, windows,
        ts = "ts", startCol = "w_start", endCol = "w_end",
        bucketSeconds = 3600L)
        .groupBy(col("signup_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("click_id")).as("first_click"))
    },
    """
      WITH clicks AS (SELECT event_id AS click_id, ts FROM events
                      WHERE event_type = 'click'),
           w AS (SELECT event_id AS signup_id, ts AS w_start,
                   ts + INTERVAL 1 HOUR AS w_end
                 FROM events WHERE event_type = 'signup')
      SELECT w.signup_id, count(*) AS n_clicks,
        min(c.click_id) AS first_click
      FROM w JOIN clicks c ON c.ts >= w.w_start AND c.ts <= w.w_end
      GROUP BY w.signup_id""")

  /** SCD2 history build: collapse the per-customer order log into
    * versioned priority intervals (see `operators/Scd`). Version numbers,
    * validity bounds and run sizes are all hash-checked. */
  private val scd2 = Q("q_scd2_history",
    (s, dir) => graft.operators.Scd.history(
      Tables.load(s, dir, "orders"),
      key = col("o_custkey"),
      orderCols = Seq(col("o_orderdate"), col("o_orderkey")),
      tracked = Seq(col("o_orderpriority"))),
    """
      WITH m AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
          CASE WHEN row_number() OVER win = 1
                 OR o_orderpriority IS DISTINCT FROM
                    lag(o_orderpriority) OVER win
               THEN 1 ELSE 0 END AS chg
        FROM orders
        WINDOW win AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey)),
      v AS (
        SELECT o_custkey, o_orderpriority, o_orderdate,
          CAST(sum(chg) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS version
        FROM m),
      runs AS (
        SELECT o_custkey, version, o_orderpriority,
          min(o_orderdate) AS valid_from, count(*) AS n_rows
        FROM v GROUP BY o_custkey, version, o_orderpriority)
      SELECT o_custkey, version, o_orderpriority, valid_from, n_rows,
        lead(valid_from) OVER w2 AS valid_to,
        lead(valid_from) OVER w2 IS NULL AS is_current
      FROM runs
      WINDOW w2 AS (PARTITION BY o_custkey ORDER BY version)""")

  /** Dense-grid resample with carry-forward (see `operators/Resample`):
    * per-user hourly buckets, gaps filled with the last observed value. */
  private val resample = Q("q_resample_gap_fill",
    (s, dir) => graft.operators.Resample.gapFillHourly(
        Tables.load(s, dir, "events"),
        key = col("user_id"), ts = col("ts"), value = col("value"))
      .withColumnRenamed("k", "user_id"),
    """
      WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
          CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS v,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      spine AS (
        SELECT user_id,
          unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR))
            AS hour
        FROM hourly GROUP BY user_id),
      j AS (
        SELECT s.user_id, s.hour, h.v, h.n
        FROM spine s LEFT JOIN hourly h USING (user_id, hour))
      SELECT user_id, hour, coalesce(n, 0) AS n_events,
        v IS NULL AS is_gap,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      FROM j""")

  /** Unpivot/melt: wide per-flag metrics to long (metric, value) rows —
    * the inverse of `q_agg_pivot`, via the native `Dataset.unpivot`
    * (no UNION-of-selects re-scan: one pass, rows expand in place). */
  private val unpivot = Q("q_agg_unpivot",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(12, 2)))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)))
            .cast("double").as("sum_price"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_rows")),
          "metric", "value"),
    """
      WITH w AS (
        SELECT l_returnflag,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            AS sum_price,
          CAST(count(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM w
      UNION ALL
      SELECT l_returnflag, 'n_rows', n_rows FROM w""")

  /** Explicit GROUPING SETS (the general form under rollup/cube) with
    * per-column grouping flags — one shuffle computes all three
    * granularities. */
  private val groupingSets = Q("q_agg_grouping_sets",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status")),
    """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        sum(l_quantity) AS sum_qty,
        CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        CAST(grouping(l_linestatus) AS BIGINT) AS g_status
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        (l_returnflag), ())""")

  /** Morton/Z-order clustering key over the two hottest lineitem filter
    * columns (see `functions/ZOrder`) — the write-path layout that keeps
    * parquet min/max stats tight on both dimensions. The key arithmetic
    * itself is hash-checked; the clustered write is exercised in
    * ZOrderSpec. */
  private val zorder = Q("q_zorder_key",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        graft.functions.ZOrder.interleave16(
          col("l_partkey"), col("l_suppkey")).as("zkey"))
    },
    """
      WITH b AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0
        FROM lineitem),
      s1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1,
                       (y0 | (y0 << 8)) & 16711935 AS y1 FROM b),
      s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
                       (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
      s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
                       (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
      s4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
                       (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        x4 | (y4 << 1) AS zkey
      FROM s4""")

  /** MERGE/upsert (see `operators/Merge`): updates touch every third
    * order, inserts land under fresh keys, the rest of the target
    * survives. The engine runs the single-shuffle union+top-1 form; the
    * oracle is the independent textbook FULL OUTER JOIN — two different
    * algorithms, one hash. */
  private val mergeUpsert = Q("q_merge_upsert",
    (s, dir) => {
      val t = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      val upd = t.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10)
      val ins = t.where(col("o_orderkey") % 7 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
      graft.operators.Merge.upsert(t, upd.unionByName(ins), Seq("o_orderkey"))
    },
    """
      WITH t AS (SELECT o_orderkey, o_totalprice, o_orderpriority
                 FROM orders),
      u AS (
        SELECT o_orderkey, o_totalprice + 10 AS o_totalprice,
          o_orderpriority
        FROM t WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_totalprice, o_orderpriority
        FROM t WHERE o_orderkey % 7 = 1)
      SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        CASE WHEN u.o_orderkey IS NOT NULL
             THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        CASE WHEN u.o_orderkey IS NOT NULL
             THEN u.o_orderpriority ELSE t.o_orderpriority END
          AS o_orderpriority
      FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey""")

  /** CDC apply (see `operators/Merge.applyChanges`): one change feed
    * carrying updates, inserts AND delete tombstones, applied in a
    * single shuffle. Delete keys are kept disjoint from update keys —
    * the standard one-row-per-key CDC precondition. */
  private val mergeCdc = Q("q_merge_cdc_apply",
    (s, dir) => {
      val t = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      val upd = t.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10)
        .withColumn("is_deleted", lit(false))
      val ins = t.where(col("o_orderkey") % 7 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
        .withColumn("is_deleted", lit(false))
      val del = t.where(col("o_orderkey") % 5 === 2 &&
          col("o_orderkey") % 3 =!= 0)
        .withColumn("is_deleted", lit(true))
      graft.operators.Merge.applyChanges(t,
        upd.unionByName(ins).unionByName(del),
        Seq("o_orderkey"), "is_deleted")
    },
    """
      WITH t AS (SELECT o_orderkey, o_totalprice, o_orderpriority
                 FROM orders),
      u AS (
        SELECT o_orderkey, o_totalprice + 10 AS o_totalprice,
          o_orderpriority
        FROM t WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_totalprice, o_orderpriority
        FROM t WHERE o_orderkey % 7 = 1),
      d AS (SELECT o_orderkey FROM t
            WHERE o_orderkey % 5 = 2 AND o_orderkey % 3 <> 0)
      SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        CASE WHEN u.o_orderkey IS NOT NULL
             THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        CASE WHEN u.o_orderkey IS NOT NULL
             THEN u.o_orderpriority ELSE t.o_orderpriority END
          AS o_orderpriority
      FROM t FULL OUTER JOIN u ON t.o_orderkey = u.o_orderkey
      WHERE coalesce(u.o_orderkey, t.o_orderkey) NOT IN
        (SELECT o_orderkey FROM d)""")

  /** Statistical aggregate surface: correlation, covariance, sample
    * stddev/variance per group. Computed over the small-magnitude
    * columns (quantity <= 50, discount <= 0.1) where both engines'
    * one-pass co-moment algorithms agree well inside the 6-dp round. */
  private val stats = Q("q_agg_stats",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_discount")), 6)
            .as("corr_qd"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6)
            .as("cov_qd"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_discount")), 6).as("var_disc"),
          round(avg(col("l_quantity")), 6).as("avg_qty")),
    """
      SELECT l_returnflag,
        round(corr(l_quantity, l_discount), 6) AS corr_qd,
        round(covar_samp(l_quantity, l_discount), 6) AS cov_qd,
        round(stddev_samp(l_quantity), 6) AS sd_qty,
        round(var_samp(l_discount), 6) AS var_disc,
        round(avg(l_quantity), 6) AS avg_qty
      FROM lineitem GROUP BY l_returnflag""")

  /** Event-time RANGE window: trailing-hour rolling count/sum per user —
    * the range frame peers on seconds-since-epoch, not row position, so
    * bursts and quiet stretches weight correctly. Second-truncated in
    * both engines (Spark's timestamp→long cast floors; the oracle floors
    * epoch() explicitly). */
  private val windowTimeRange = Q("q_window_time_range",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3599, 0)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_trailing_hr"),
          sum(col("value").cast(DecimalType(14, 4))).over(w)
            .cast("double").as("sum_trailing_hr"))
    },
    """
      SELECT event_id, user_id, ts,
        count(*) OVER w AS n_trailing_hr,
        CAST(sum(CAST(value AS DECIMAL(14,4))) OVER w AS DOUBLE)
          AS sum_trailing_hr
      FROM events
      WINDOW w AS (PARTITION BY user_id
        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""")

  /** Incremental view maintenance: per-user totals kept fresh by merging
    * yesterday's aggregate STATE with a partial aggregate of only the new
    * rows — count/sum are algebraic, so re-aggregating partials equals
    * aggregating from scratch (the oracle computes the from-scratch
    * form). At 100 TB this is the difference between touching the delta
    * and rescanning the corpus; the decimal carrier keeps the merged sum
    * bit-equal to the direct one. */
  private val ivm = Q("q_ivm_merge",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(14, 4))).as("sv"))
      val state = partial(ev.where(dayofmonth(col("ts")) <= 15))
      val delta = partial(ev.where(dayofmonth(col("ts")) > 15))
      state.unionByName(delta)
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("sum_value"))
    },
    """
      SELECT user_id, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY user_id""")

  /** Two-step funnel (see `operators/Funnel`): first signup per user,
    * earliest click inside the following hour, conversion flag +
    * latency. */
  private val funnel = Q("q_funnel_conversion",
    (s, dir) => Funnel.twoStep(
        Tables.load(s, dir, "events"),
        key = col("user_id"), ts = col("ts"),
        isA = col("event_type") === "signup",
        isB = col("event_type") === "click",
        windowSeconds = 3600L)
      .withColumnRenamed("k", "user_id")
      .withColumnRenamed("a_ts", "signup_ts")
      .withColumnRenamed("b_first", "first_click_ts"),
    """
      WITH a AS (SELECT user_id, min(ts) AS signup_ts FROM events
                 WHERE event_type = 'signup' GROUP BY user_id),
      b AS (SELECT e.user_id, min(e.ts) AS first_click_ts
            FROM events e JOIN a USING (user_id)
            WHERE e.event_type = 'click'
              AND e.ts >= a.signup_ts
              AND e.ts <= a.signup_ts + INTERVAL 1 HOUR
            GROUP BY e.user_id)
      SELECT a.user_id, a.signup_ts, b.first_click_ts,
        b.first_click_ts IS NOT NULL AS converted,
        CAST(floor(epoch(b.first_click_ts)) - floor(epoch(a.signup_ts))
          AS BIGINT) AS secs_to_convert
      FROM a LEFT JOIN b USING (user_id)""")

  /** Cohort retention (see `operators/Funnel.cohortRetention`): distinct
    * active users per (first-seen day, day offset). */
  private val cohort = Q("q_cohort_retention",
    (s, dir) => Funnel.cohortRetention(
      Tables.load(s, dir, "events"),
      key = col("user_id"), ts = col("ts")),
    """
      WITH act AS (SELECT user_id, date_trunc('day', ts) AS day
                   FROM events),
      first AS (SELECT user_id, min(day) AS cohort_day FROM act
                GROUP BY user_id)
      SELECT cohort_day,
        (CAST(floor(epoch(day)) AS BIGINT)
          - CAST(floor(epoch(cohort_day)) AS BIGINT)) // 86400 AS day_offset,
        count(DISTINCT act.user_id) AS n_active
      FROM act JOIN first USING (user_id)
      GROUP BY 1, 2""")

  /** Sliding event-time windows (1 h window, 30 min slide): every event
    * lands in exactly two overlapping windows — the `window()` function
    * in its sliding form (the tumbling form is `q_events_hourly`). The
    * oracle derives both candidate window starts per event explicitly. */
  private val sliding = Q("q_events_sliding",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n")),
    """
      WITH c AS (SELECT event_type,
          date_trunc('hour', ts)
            + CASE WHEN extract(minute FROM ts) >= 30
                   THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
            AS t30
        FROM events),
      w AS (SELECT event_type, t30 - INTERVAL 30 MINUTE AS w_start FROM c
            UNION ALL
            SELECT event_type, t30 FROM c)
      SELECT w_start, event_type, count(*) AS n
      FROM w GROUP BY 1, 2""")

  /** Native `session_window` (30-min gap) — Spark's built-in session
    * operator; must agree with the hand-rolled lag/cumsum sessionizer
    * (`q_events_sessionize`), so the oracle is that query's session
    * bounds minus the surrogate ids. Session end here is last_event +
    * gap (the operator's definition), so the oracle adds the gap to its
    * max(ts). */
  private val sessionWindow = Q("q_events_session_window",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events")),
    """
      WITH l AS (
        SELECT user_id, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      f AS (
        SELECT user_id, ts,
          CASE WHEN prev_ts IS NULL
                 OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS ns,
          event_id
        FROM l),
      se AS (
        SELECT user_id, ts,
          CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_id
        FROM f)
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end,
        count(*) AS n_events
      FROM se GROUP BY user_id, session_id""")

  /** Free-riding audit metrics via `observe`: the reference re-runs a
    * count() action per checkpoint (SURVEY A1/A5 — each one a full
    * re-execution); `observe` attaches the counters to the ONE
    * production pass, so at 100 TB the audit costs nothing extra. The
    * observed totals are emitted as the result row and hash-checked
    * against directly-computed aggregates. */
  private val observed = Q("q_a1_observed",
    (s, dir) => {
      import s.implicits._
      val obs = new org.apache.spark.sql.Observation()
      Tables.load(s, dir, "lineitem")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(12, 2)))
            .cast("double").as("sum_qty"),
          count(when(col("l_returnflag") === "R", 1)).as("n_returned"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[Double],
        m("n_returned").asInstanceOf[Long]))
        .toDF("n_rows", "sum_qty", "n_returned")
    },
    """
      SELECT count(*) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
      FROM lineitem""")

  /** Outlier detection: z-score per event against its event_type's
    * mean/stddev. Two-phase: one map-side-combined aggregate down to
    * |event_type| rows, broadcast back over the fact — the fact is
    * scanned twice but never shuffled. Anomalies (|z| > 2.5) surface
    * with their score; z rounds to 6 dp per the float-output rule. */
  private val anomaly = Q("q_events_anomaly",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val st = ev.groupBy(col("event_type")).agg(
        avg(col("value")).as("mu"),
        stddev_samp(col("value")).as("sigma"))
      // σ guarded to NULL when zero: Spark's double x/0 is NULL while
      // DuckDB's is ±inf, so an all-constant event_type would silently
      // diverge between engines — pin both to NULL (no spread ⇒ no
      // anomaly score), the row drops out of the > 2.5 filter
      val z = (col("value") - col("mu")) /
        when(col("sigma") =!= 0, col("sigma"))
      ev.join(broadcast(st), Seq("event_type"))
        .filter(abs(z) > 2.5)
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 6).as("z"))
    },
    """
      WITH st AS (SELECT event_type, avg(value) AS mu,
          stddev_samp(value) AS sigma
        FROM events GROUP BY event_type)
      SELECT event_id, e.event_type, value,
        round((value - mu) / nullif(sigma, 0), 6) AS z
      FROM events e JOIN st USING (event_type)
      WHERE abs((value - mu) / nullif(sigma, 0)) > 2.5""")

  /** Winsorization: clip `value` to its event_type's exact [p05, p95]
    * band (R-7 interpolation in both engines). Same two-phase shape as
    * the z-score: tiny percentile dim broadcast over an unshuffled
    * fact. The emitted clipped value rounds to 6 dp. */
  private val winsorize = Q("q_events_winsorize",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val bands = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(bands), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(greatest(col("p05"), least(col("p95"), col("value"))), 6)
            .as("clipped"),
          (col("value") < col("p05") || col("value") > col("p95"))
            .as("was_clipped"))
    },
    """
      WITH b AS (SELECT event_type,
          quantile_cont(value, 0.05) AS p05,
          quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type)
      SELECT event_id, e.event_type, value,
        round(greatest(p05, least(p95, value)), 6) AS clipped,
        (value < p05 OR value > p95) AS was_clipped
      FROM events e JOIN b USING (event_type)""")

  /** Exponential time-decay engagement score per user: each event
    * contributes value·2^(−age_days), halving per day of age. All
    * arithmetic is exact integers — value in cents times a 2^(40−age)
    * bit-shift weight, summed as DECIMAL(38,0) (no double sum, no
    * per-term rounding: 2-dp values times powers of two sit exactly ON
    * decimal round-half boundaries, where engines disagree) — then ONE
    * final division + 6-dp round on a generic real. Ages past 40 days
    * clamp: their weight is below the 6-dp output resolution anyway.
    * Shape: one scalar max (broadcast back) + one user_id groupBy; the
    * fact shuffles once. */
  private val decayScore = Q("q_events_decay_score",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value"), col("ts"))
      val maxE = ev.agg(
        max(graft.functions.Scalars.epochMicros(col("ts"))).as("max_us"))
      ev.crossJoin(broadcast(maxE))
        .withColumn("ts_us", graft.functions.Scalars.epochMicros(col("ts")))
        .withColumn("age_days", expr("(max_us - ts_us) DIV 86400000000"))
        // cents enter the multiply ALREADY decimal(38,0): a LongType
        // product wraps silently in non-ANSI Spark once cents × 2^40
        // passes 2^63 (value > ~$84k at age 0), while the HUGEINT twin
        // keeps going — the decimal carry makes both engines exact at
        // any value magnitude the 38-digit budget holds (~1e26 dollars)
        .withColumn("term", (round(col("value") * 100).cast("decimal(38,0)") *
          expr("shiftleft(1L, cast(40 - least(age_days, 40) as int))"))
          .cast("decimal(38,0)"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("term")).cast("double") /
            (lit(100.0) * pow(lit(2.0), 40)), 6).as("decay_score"))
    },
    """
      WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
      t AS (SELECT user_id,
          CAST(round(value * 100) AS HUGEINT) *
            CAST(CAST(1 AS BIGINT) << CAST(40 - least(
              (max_us - epoch_us(ts)) // 86400000000, 40) AS INT)
              AS HUGEINT) AS term
        FROM events, m)
      SELECT user_id, count(*) AS n_events,
        round(CAST(sum(term) AS DOUBLE) / (100.0 * 1099511627776.0), 6)
          AS decay_score
      FROM t GROUP BY user_id""")

  /** Mergeable-sketch distinct counting: build an HLL sketch PER
    * PARTITION of the data (4 disjoint halves by key hash), then union
    * the sketches and estimate — the property that lets 1000 executors
    * (or 1000 daily increments) each sketch locally and merge tiny
    * states instead of re-scanning history. Gate: the merged estimate
    * must land within the configured relative error of the exact
    * distinct count (bounds-check pattern, as q_agg_approx_sketches). */
  private val sketchMerge = Q("q_sketch_mergeable",
    (s, dir) => {
      val parts = Tables.load(s, dir, "events")
        .withColumn("part", pmod(col("event_id"), lit(4)))
        .groupBy(col("part"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
          countDistinct(col("user_id")).as("part_exact"))
      val merged = parts.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_parts"),
        sum(col("part_exact")).as("sum_part_exact"))
      val exact = Tables.load(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      merged.crossJoin(exact).select(
        col("exact_users"), col("n_parts"),
        (abs(col("est") - col("exact_users")) <=
          col("exact_users") * 0.05).as("merged_ok"),
        // disjoint-part sanity: per-part exacts can only overcount the
        // union when users span parts — they do (events per user land in
        // many residue classes), so the sum strictly exceeds the union
        (col("sum_part_exact") >= col("exact_users")).as("parts_cover"))
    },
    """
      SELECT count(DISTINCT user_id) AS exact_users,
        4 AS n_parts, true AS merged_ok, true AS parts_cover
      FROM events""")

  /** Value-positional window functions: first/last/nth over an explicit
    * FULL frame (the default running frame makes last_value = current
    * row — the classic trap), plus frameless lead. Completes the window
    * surface next to rank/lag/ntile/percent_rank elsewhere. One shuffle
    * on the partition key. */
  private val windowValues = Q("q_window_value_functions",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("top_price", first(col("o_totalprice")).over(full))
        .withColumn("bottom_price", last(col("o_totalprice")).over(full))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(full))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
    },
    """
      SELECT o_orderkey, o_custkey, o_totalprice,
        first_value(o_totalprice) OVER wf AS top_price,
        last_value(o_totalprice) OVER wf AS bottom_price,
        nth_value(o_orderkey, 2) OVER wf AS second_key,
        lead(o_totalprice) OVER w AS next_price
      FROM orders
      WINDOW
        w AS (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey),
        wf AS (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")

  /** Robust scaling: (value − median) / IQR per event_type — the
    * outlier-immune normalization next to the z-score (mean/σ are
    * dragged by the tails robust stats ignore). Same two-phase shape:
    * exact percentiles down to |event_type| rows, broadcast back over
    * the unshuffled fact. */
  private val robustScale = Q("q_events_robust_scale",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val st = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.75) - percentile(value, 0.25)")
          .as("iqr"))
      // IQR guarded to NULL when zero (see q_events_anomaly: Spark
      // x/0 = NULL vs DuckDB ±inf — pin the no-spread case to NULL)
      ev.join(broadcast(st), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("med")) /
            when(col("iqr") =!= 0, col("iqr")), 6).as("robust_z"))
    },
    """
      WITH st AS (SELECT event_type,
          quantile_cont(value, 0.5) AS med,
          quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
        FROM events GROUP BY event_type)
      SELECT event_id, e.event_type, value,
        round((value - med) / nullif(iqr, 0), 6) AS robust_z
      FROM events e JOIN st USING (event_type)""")

  val all: Seq[Q] = Seq(sessionize, windowAnalytics, rollup, cube, pivot,
    distinctCount, salted, saltedJoin, sketches, topkAgg, percentiles, asof,
    rangeJoin, rangeJoinUnkeyed, scd2, resample, unpivot, groupingSets,
    zorder, mergeUpsert, mergeCdc, stats, windowTimeRange, ivm, funnel,
    cohort, sliding, sessionWindow, observed, anomaly, winsorize,
    decayScore, sketchMerge, windowValues, robustScale)
}
