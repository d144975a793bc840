"""Window-function workload: SURVEY.md §2.6 (W1-W6) + §2.7 dedupe windows,
plus the beyond-reference frames (running totals, sessionization) Spark adds.

Every ORDER BY inside a window carries a unique tiebreak column so results
are deterministic across engines (reference pitfall: pandas keep='first'
depends on frame order — SURVEY §7 'hard parts' #2).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import register, t


@register(
    "q13_dense_rank_suppliers",
    """
    WITH rev AS (
      SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, l_suppkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                  AS DOUBLE) AS revenue
      FROM lineitem GROUP BY 1, 2
    )
    SELECT ship_year, l_suppkey, revenue,
           CAST(dense_rank() OVER (PARTITION BY ship_year
                                   ORDER BY revenue DESC, l_suppkey) AS INTEGER) AS supplier_rank
    FROM rev
    """,
    survey_ref="W1,W2,A1",
)
def q13_dense_rank_suppliers(spark, sf_dir):
    """W1 dense-rank-per-partition (reference per-year activity ranks).
    Rank over the ROUNDED revenue so engine float drift can't flip ranks.

    Money sums exactly: price and discount enter as DECIMAL(18,4), which
    holds every stored price (1.005 included) without a half-cent split,
    the sum and its half-up round to cents are decimal, and only the
    rounded revenue is cast to DOUBLE — summing doubles and rounding
    them lets each engine resolve a half-cent boundary its own way."""
    li = t(spark, sf_dir, "lineitem")
    money = (F.col("l_extendedprice").cast("decimal(18,4)")
             * (1 - F.col("l_discount").cast("decimal(18,4)")))
    rev = (
        li.withColumn("ship_year", F.year("l_shipdate").cast("int"))
        .groupBy("ship_year", "l_suppkey")
        .agg(F.round(F.sum(money), 2).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("ship_year").orderBy(F.col("revenue").desc(), F.col("l_suppkey"))
    return rev.withColumn("supplier_rank", F.dense_rank().over(w).cast("int"))


@register(
    "q14_topn_customers_per_nation",
    """
    WITH ranked AS (
      SELECT n.n_name, c.c_custkey, round(c.c_acctbal, 2) AS c_acctbal,
             row_number() OVER (PARTITION BY n.n_nationkey
                                ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name, c_custkey, c_acctbal, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3
    """,
    survey_ref="W5,J1",
)
def q14_topn_customers_per_nation(spark, sf_dir):
    """W5 top-N per group. At scale: window over partitioned shuffle — no
    driver-side sort; AQE handles skewed nations."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"),
                F.col("rn").cast("int").alias("rn"))
    )


@register(
    "q15_argmax_event_type",
    """
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT user_id, event_type, n_events,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n_events DESC, event_type) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS top_event_type, n_events
    FROM ranked WHERE rn = 1
    """,
    survey_ref="W3,A9",
)
def q15_argmax_event_type(spark, sf_dir):
    """W3 argmax-per-group (reference top-issue-per-member): count then
    row_number==1 with (count desc, key asc) tiebreak."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"), "n_events")
    )


@register(
    "q16_latest_event_per_user",
    """
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           round(value, 2) AS last_value
    FROM ranked WHERE rn = 1
    """,
    survey_ref="W4,O3",
)
def q16_latest_event_per_user(spark, sf_dir):
    """W4 current-else-latest record per entity (reference membership pick:
    desc is_current, desc end-with-sentinel, desc start → here ts desc with
    unique event_id tiebreak)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_event_type"),
                F.round("value", 2).alias("last_value"))
    )


@register(
    "q17_rapid_repeat_events",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN prev_ts IS NOT NULL
                          AND date_diff('second', prev_ts, ts) <= 600
                         THEN 1 ELSE 0 END) AS BIGINT) AS rapid_events,
           count(*) AS total_events
    FROM gaps GROUP BY user_id
    """,
    survey_ref="W6",
)
def q17_rapid_repeat_events(spark, sf_dir):
    """W6 interval-overlap analog: lag(ts) per entity, count successor rows
    within 600s of the predecessor."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap_s = F.col("ts").cast("long") - F.col("prev_ts").cast("long")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("prev_ts").isNotNull() & (gap_s <= 600), 1).otherwise(0))
            .cast("long").alias("rapid_events"),
            F.count(F.lit(1)).alias("total_events"),
        )
    )


@register(
    "q18_running_customer_spend",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend
    FROM orders
    """,
    survey_ref="beyond-ref: analytic frame (SURVEY §2.6 note)",
)
def q18_running_customer_spend(spark, sf_dir):
    """Running total with an explicit ROWS frame — absent from the reference
    (SURVEY notes no frame specs); unique (date, orderkey) ordering keeps the
    prefix sums engine-independent."""
    orders = t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "q19_dedupe_keep_last",
    """
    WITH ranked AS (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, event_id, round(value, 2) AS value
    FROM ranked WHERE rn = 1
    """,
    survey_ref="O4,O5",
)
def q19_dedupe_keep_last(spark, sf_dir):
    """O4 keep-last dedupe by business key — the core upsert precedence
    primitive (incoming beats existing via priority ordering), expressed as
    the row_number idiom the MergeWriter uses."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 2).alias("value"))
    )


@register(
    "q20_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS INTEGER) AS session_no,
           count(*) AS session_events, round(sum(value), 2) AS session_value
    FROM sess GROUP BY user_id, session_no
    """,
    survey_ref="beyond-ref: sessionization (streaming-equivalent batch, SURVEY §2.10)",
)
def q20_sessionization(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative sum of session-starts) —
    the batch equivalent of session_window in Structured Streaming. The same
    logic runs incrementally in streaming/sessions.py."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap_s = F.col("ts").cast("long") - F.col("prev_ts").cast("long")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("new_session",
                    F.when(F.col("prev_ts").isNull() | (gap_s > 1800), 1).otherwise(0))
        .withColumn("session_no",
                    F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                    .cast("int"))
        .groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("session_events"),
             F.round(F.sum("value"), 2).alias("session_value"))
    )


@register(
    "q21_tumbling_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    survey_ref="§2.10 streaming-equivalent tumbling window",
)
def q21_tumbling_hourly(spark, sf_dir):
    """Tumbling 1h window aggregate — batch twin of the Structured Streaming
    job in streaming/jobs.py (same grouping, watermark added there)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("window_start",
                      F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"))
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "q48_salted_topn_events",
    """
    WITH ranked AS (
      SELECT event_type, event_id, user_id, value AS raw_value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    SELECT event_type, event_id, user_id, round(raw_value, 2) AS value,
           CAST(rn AS INTEGER) AS rank
    FROM ranked WHERE rn <= 5
    """,
    survey_ref="beyond-ref: skew-resilient top-N (operators/skew.py)",
)
def q48_salted_topn_events(spark, sf_dir):
    """Salted two-phase top-N over the hottest possible partitioning —
    event_type has ~5 distinct values, so a one-phase window funnels ~20% of
    all events into single tasks. The salted form bounds every task by
    bucket size and is row-identical to the one-phase ranking (the oracle
    IS the one-phase formulation). At 100 TB this is the difference between
    a stage pinned on 5 stragglers and an evenly spread shuffle."""
    from ..operators.skew import salted_top_n
    ev = t(spark, sf_dir, "events")
    out = salted_top_n(
        ev, ["event_type"],
        [F.col("value").desc(), F.col("event_id")], 5,
        buckets=32, salt_on=[F.col("event_id")])
    return out.select("event_type", "event_id", "user_id",
                      F.round("value", 2).alias("value"), "rank")


@register(
    "q39_asof_join_last_click",
    """
    WITH c AS (
      -- ONE click per (user_id, ts), max event_id winning the exact tie:
      -- DuckDB's ASOF join has no tiebreak of its own (scan-order
      -- dependent on duplicate timestamps), so the oracle must pin the
      -- same max-id rule the Spark window implements
      SELECT user_id, ts,
             max_by(event_id, event_id) AS event_id,
             max_by(value, event_id) AS value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT e.event_id AS error_event_id, e.user_id,
           CAST(c.event_id AS VARCHAR) AS click_event_id, round(c.value, 2) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    survey_ref="beyond-ref: as-of join (custom operator)",
)
def q39_asof_join_last_click(spark, sf_dir):
    """As-of join — for each error event, the user's most recent click at or
    before it. Spark has no native ASOF, so this uses the scalable union +
    running-last formulation: tag both sides, one window per user ordered by
    (ts, side), `last(..., ignorenulls)` carries the latest click forward.
    ONE shuffle on user_id — no range join, no per-user collect, and at
    100 TB it partitions by user exactly like the sessionization jobs. A
    same-timestamp click sorts before the error (inclusive as-of bound)."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("side"),
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_raw"),
        F.lit(None).cast("long").alias("error_event_id"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("click_event_id"),
        F.lit(None).cast("double").alias("click_raw"),
        F.col("event_id").alias("error_event_id"))
    # click_event_id is the unique tiebreak: two clicks at one timestamp
    # would otherwise make "last click" shuffle-order-dependent (the
    # module rule — every ORDER BY carries a unique tiebreak); the max id
    # deterministically wins an exact tie.
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "side", F.col("click_event_id").asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        clicks.unionByName(errors)
        .withColumn("last_click_id",
                    F.last("click_event_id", ignorenulls=True).over(w))
        .withColumn("last_click_value",
                    F.last("click_raw", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(F.col("error_event_id"), "user_id",
                F.col("last_click_id").cast("string").alias("click_event_id"),
                F.round("last_click_value", 2).alias("click_value"))
    )


@register(
    "q53_range_join_busy_windows",
    """
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ), win AS (
      SELECT h AS w_start, h + INTERVAL 1 HOUR AS w_end
      FROM hours ORDER BY c DESC, h LIMIT 20
    )
    SELECT strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM win w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1
    """,
    survey_ref="beyond-ref: bucketized range join (operators/temporal.py)",
)
def q53_range_join_busy_windows(spark, sf_dir):
    """Pure range join (no equi key): every event matched to the busiest-20
    hour windows containing it. Spark has no native range join and the
    naive form is a cross join; point_in_interval_join buckets both sides
    to the hour grain and equi-joins on the bucket, so cost is linear in
    points + interval spans + true matches — the plan that survives a
    100 TB event stream against a bounded window dimension. The oracle runs
    DuckDB's native non-equi join over the identical derived windows."""
    from ..operators.temporal import point_in_interval_join
    ev = t(spark, sf_dir, "events")
    hours = (ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
             .agg(F.count(F.lit(1)).alias("c")))
    win = (hours.orderBy(F.col("c").desc(), F.col("h")).limit(20)
           .select(F.col("h").alias("w_start"),
                   (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("w_end")))
    joined = point_in_interval_join(ev, win, "ts", "w_start", "w_end",
                                    bucket="1 hour")
    return (joined.groupBy(F.date_format("w_start", "yyyy-MM-dd HH:mm:ss")
                           .alias("window_start"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users")))


@register(
    "q56_resample_daily_ffill",
    """
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS tick,
             ts, value
      FROM events
    ),
    spans AS (
      SELECT user_id, min(tick) AS lo, max(tick) AS hi FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT user_id, unnest(range(lo, hi + 86400, 86400)) AS tick FROM spans
    ),
    latest AS (
      SELECT user_id, tick, value FROM (
        SELECT user_id, tick, value,
               row_number() OVER (PARTITION BY user_id, tick
                                  ORDER BY ts DESC, value DESC NULLS LAST) AS rn
        FROM obs) r
      WHERE rn = 1
    ),
    j AS (
      SELECT g.user_id, g.tick,
             last_value(l.value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.tick
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      FROM grid g LEFT JOIN latest l
        ON g.user_id = l.user_id AND g.tick = l.tick
    )
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           -- epoch_ms gives a NAIVE timestamp: tz-free on both engines
           strftime(epoch_ms(tick * 1000), '%Y-%m-%d') AS day,
           value
    FROM j
    """,
    survey_ref="beyond-ref: periodic resampling w/ forward fill (operators/curation.py:resample_periodic)",
)
def q56_resample_daily_ffill(spark, sf_dir):
    """Per-user daily resampling with forward fill: one row per calendar
    day between each user's first and last event, carrying the latest
    observed ``value`` across gap days. The grid is generated per key
    (span/step rows, never table-sized), the newest-in-bucket pick is a
    deterministic keep-last window, and the fill is one
    last(ignorenulls) window per key — two AQE-coalescible shuffles on
    user_id regardless of event volume."""
    from ..operators.curation import resample_periodic
    ev = t(spark, sf_dir, "events")
    res = resample_periodic(ev.select("user_id", "ts", "value"),
                            ["user_id"], "ts", "1 day", ["value"])
    return res.select(F.col("user_id").cast("string").alias("user_id"),
                      F.date_format("ts", "yyyy-MM-dd").alias("day"),
                      "value")


@register(
    "q76_sliding_window_counts",
    """
    -- every event belongs to exactly window/slide = 4 overlapping
    -- windows: starts time_bucket(ts) - k*15min for k in 0..3 (the k=3
    -- start is > ts - 1h by construction, so no filter is needed).
    -- time_bucket's sub-day origin (2000-01-01) sits on the same 900s
    -- grid as Spark's epoch-aligned F.window, so the buckets coincide.
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                    - CAST(i AS INTEGER) * INTERVAL '15 minutes',
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events, unnest(range(4)) AS u(i)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    survey_ref="§2.10 streaming-equivalent SLIDING window (streaming/jobs.py:tumbling_event_counts with slide)",
)
def q76_sliding_window_counts(spark, sf_dir):
    """Sliding 1-hour windows with a 15-minute slide per event_type — the
    rate-monitoring/alerting window shape (each event lands in 4
    overlapping windows). Runs the REAL F.window(ts, '1 hour', '15
    minutes') operator through the streaming module's batch twin (the
    same plan Structured Streaming executes with a watermark), emitting
    window_start as a formatted string like q21. The oracle derives each
    event's 4 covering window starts by explicit bucket arithmetic; NULL
    timestamps are excluded on both sides (Spark's window drops them,
    DuckDB's unnest(range(4)) would fabricate 4 NULL rows)."""
    from ..streaming.jobs import tumbling_event_counts
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (tumbling_event_counts(ev, "1 hour", slide="15 minutes")
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events",
                    F.round("total_value", 2).alias("total_value")))
