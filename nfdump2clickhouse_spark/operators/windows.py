"""Window-function and time-series operators (SURVEY §2.5, §2.9).

The flows query surface's ranking/cumulative analytics (top talkers,
running byte counts, trailing-5-min traffic [P]) and the ``ts_*``
series diagnostics. Every window ORDER BY carries a unique tiebreaker
(SURVEY §5.3.3). Windows partition by a key — at scale each partition's
state stays on one executor; no global sort. Tumbling 5-min windows
mirror the nfcapd rotation granularity [P], and the same expressions run
unchanged under Structured Streaming.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..registry import register


@register(
    "win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROW_NUMBER() OVER w AS rnum,
           RANK() OVER w       AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-talkers ranking per partition (row_number/rank/dense_rank)."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rnum"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value, 4)                    AS value,
           ROUND(LAG(value, 1)  OVER w, 4)    AS prev_value,
           ROUND(LEAD(value, 1) OVER w, 4)    AS next_value,
           LAG(event_type, 1) OVER w          AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous/next event per user — session-reconstruction primitive."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("value"),
        F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 4).alias("next_value"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum (running byte counter analog)."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("running_value")
    )


@register(
    "win_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("mavg")
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 300 PRECEDING AND CURRENT ROW), 4) AS trailing_5min
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range frame: trailing-300 s sum over epoch seconds (the flows
    'traffic in the last 5 minutes' rolling query [P])."""
    e = table(spark, sf_dir, "events").withColumn(
        "epoch_s", F.unix_timestamp("ts")
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-300, 0)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("trailing_5min"),
    )


@register(
    "win_ntile_first_last",
    oracle="""
    SELECT c_custkey, c_nationkey,
           NTILE(4) OVER w AS quartile,
           FIRST_VALUE(c_custkey) OVER w AS richest,
           LAST_VALUE(c_custkey)  OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_custkey").over(w).alias("richest"),
        F.last("c_custkey").over(w_full).alias("poorest"),
    )


@register(
    "win_cume_dist",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 4) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal NULLS LAST, c_custkey)
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist) per
    nation, ordered by balance with the unique-key tiebreaker the
    determinism rules require (SURVEY §5.3). The balance ordering is
    pinned NULLS LAST two-sided — Spark defaults ASC NULLS FIRST,
    DuckDB ASC NULLS LAST, which shifts every rank in a mixed-NULL
    partition (EDGE_SWEEP_r10 class D)."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@register(
    "win_fill_forward",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE ROUND(value, 4) END AS v
      FROM events
    )
    SELECT user_id, event_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
    FROM s
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward — pandas `ffill`,
    ClickHouse `anyLast` over ordered frames [P]): sensor/counter gaps
    take the most recent non-null reading per key. `F.last(ignorenulls)`
    over a running frame — one shuffle on user_id, the frame never
    rescans (Spark keeps a running last per partition). Nulls are
    synthesized from 'error' events so the fill path is actually
    exercised; event_id ordering keeps the frame deterministic."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "error", F.round("value", 4))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.last(v, ignorenulls=True).over(w).alias("v_ffill"),
    )


@register(
    "win_ema",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, event_id,
           ROUND(list_aggregate(
                   [l[j] * pow(0.8, len(l) - j)
                    for j in generate_series(1, len(l))],
                   'sum'), 4) + 0 AS ema
    FROM w
    """,
)
def win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing sum (ClickHouse
    `exponentialMovingAverage` [P] — the burst-smoothing rate metric):
    weight 0.8^age over the last 16 observations per user in event_id
    order. The recursive EMA definition doesn't fit a SQL frame, but the
    BOUNDED formulation does: `collect_list` over a ROWS frame (order
    deterministic — the frame is ordered by the unique event_id), then
    one aggregate HOF with positional weights. State per row is 16
    doubles — constant, so the window scales like any other ROWS frame;
    one shuffle on user_id.

    NULL readings are pinned out two-sided: Spark's collect_list drops
    NULL elements while DuckDB's list() keeps them, so a mixed-NULL
    frame otherwise disagrees on both the weights (len(l)) and the row
    set (EDGE_SWEEP_r10 class D)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-15, Window.currentRow)
    )
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    l = F.collect_list("value").over(w)
    d = e.select("user_id", "event_id", l.alias("l"))
    ema = F.aggregate(
        F.transform(
            "l",
            lambda x, i: x * F.pow(F.lit(0.8), F.size("l") - i - 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "user_id", "event_id", (F.round(ema, 4) + 0).alias("ema")
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT c_custkey, c_nationkey,
           nth_value(c_acctbal, 2) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_bal
    FROM customer
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nth_value` with a full frame: every customer row annotated with
    its nation's second-highest balance (runner-up benchmarking —
    ClickHouse `nth_value` [P]). Full-frame spec is explicit: the SQL
    default frame stops at CURRENT ROW, which silently turns nth_value
    into 'nth so far' — a classic cross-engine footgun both engines
    agree on only when spelled out. One shuffle on the partition key."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.nth_value("c_acctbal", 2).over(w).alias("second_bal"),
    )


@register(
    "win_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE ts IS NOT NULL GROUP BY wstart, event_type
    """,
)
def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-min tumbling counts (≡ one nfcapd file per window [P]).

    NULL timestamps belong to no window — pinned two-sided (Spark's
    window() drops them, DuckDB's time_bucket keeps a NULL bucket;
    EDGE_SWEEP_r10 class C)."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return e.groupBy(
        F.window("ts", "5 minutes").start.alias("wstart"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


@register(
    "win_sliding",
    # An event at time t falls in two 10-min windows sliding by 5: the ones
    # starting at bucket5(t) and bucket5(t) - 5 min. The oracle re-derives
    # that membership; Spark's window() emits it directly.
    oracle="""
    WITH b AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b5, value
               FROM events WHERE ts IS NOT NULL)
    SELECT wstart, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value FROM (
      SELECT b5 AS wstart, value FROM b
      UNION ALL
      SELECT b5 - INTERVAL 5 MINUTE AS wstart, value FROM b
    ) GROUP BY wstart
    """,
)
def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows sliding every 5 min (each event in 2 windows).
    NULL-ts rows are windowless — pinned two-sided (class C)."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return e.groupBy(
        F.window("ts", "10 minutes", "5 minutes").start.alias("wstart")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


@register(
    "win_session",
    # Gaps-and-islands replica of session_window semantics: a gap >= 30 min
    # starts a new session (Spark's session is [first, last+gap)).
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
      SELECT user_id, ts, SUM(new_s) OVER
        (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, date_trunc('second', MIN(ts)) AS session_start, COUNT(*) AS n
    FROM islands GROUP BY user_id, sid
    """,
)
def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30-min inactivity gap, per user (flow/session
    stitching in batch; the streaming variant is stream_stateful).
    NULL-ts rows sessionize nowhere — pinned two-sided (class C)."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("sw.start")).alias("session_start"),
            "n",
        )
    )


@register(
    "ts_gap_fill",
    oracle="""
    WITH c AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS mn, max(h) AS mx FROM c GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.event_type, g.h, COALESCE(c.n, 0) AS n
    FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time series with zero-filled gaps (ClickHouse `ORDER BY ...
    WITH FILL` [P]): hourly event counts per type joined onto a generated
    per-type hour grid. The grid is derived per group from its own
    [min, max] span (`sequence` + `explode` — rows generated
    executor-side, never a driver loop) and the fill join is an equi join
    on (type, hour); grid size is O(groups × span/step), independent of
    event count."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = (
        c.groupBy("event_type")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return grid.join(c, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n")
    )


@register(
    "ts_interpolate",
    oracle="""
    WITH c AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             AVG(value) AS v
      FROM events WHERE event_id % 7 <> 0 GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS mn, max(h) AS mx FROM c GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.event_type, g.h, c.v,
             epoch(g.h) AS e
      FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.h = c.h
    ),
    w AS (
      SELECT event_type, h, v, e,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pe,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ne
      FROM j
    )
    SELECT event_type, h,
           floor((CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (e - pe) / (ne - pe)
           END) * 10000 + 0.5 + 1e-9) / 10000 AS v_filled
    FROM w
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of gaps in a time series (ClickHouse `WITH
    FILL ... INTERPOLATE` [P]): hourly avg(value) per type — with every
    7th event removed to create holes — rebuilt on a dense grid, missing
    points interpolated between the nearest observed neighbors
    (edge gaps take the nearest value). Two windows per partition
    (forward + backward ignoreNulls scans), one shuffle on event_type."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 != 0)
    c = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.avg("value").alias("v")
    )
    grid = (
        c.groupBy("event_type")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    j = grid.join(c, ["event_type", "h"], "left").withColumn(
        "e", F.unix_timestamp("h")
    )
    back = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fwd = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    ee = F.when(F.col("v").isNotNull(), F.col("e"))
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("pe", F.last(ee, ignorenulls=True).over(back))
        .withColumn("nv", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("ne", F.first(ee, ignorenulls=True).over(fwd))
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("e") - F.col("pe"))
            / (F.col("ne") - F.col("pe"))
        )
    )
    # epsilon half-up rounding: the interpolated value can land exactly on
    # a .00005 boundary where the two engines' last-ulp difference flips
    # the 4th decimal (7 rows at sf0.1); the 1e-9 nudge absorbs ulp noise
    # (values are positive, so floor(x+0.5) is half-up)
    eps_round = F.floor(interp * 10000 + 0.5 + 1e-9) / 10000
    return w.select("event_type", "h", eps_round.alias("v_filled"))


@register(
    "win_sliding_distinct",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' * off
               AS win_start,
             user_id
      FROM events, UNNEST([0, 1]) AS t(off)
      WHERE ts IS NOT NULL
    )
    SELECT win_start, COUNT(DISTINCT user_id) AS uniq_users
    FROM b GROUP BY win_start
    """,
)
def win_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique users per 10-minute window sliding every 5 — the live
    'active users' dashboard tile (ClickHouse `uniq` over overlapping
    buckets [P]). Spark's `window(ts, 10m, 5m)` assigns each row to its
    2 covering windows scan-side (an Expand, no join); the distinct
    aggregation is then the standard two-phase plan. The oracle
    re-derives window starts arithmetically (each row appears in the
    bucket it starts and the one 5 minutes earlier). NULL-ts rows are
    windowless — pinned two-sided (class C)."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), )
        .agg(F.countDistinct("user_id").alias("uniq_users"))
        .select(F.col("w.start").alias("win_start"), "uniq_users")
    )


US_PER_HOUR = 3_600_000_000


# --- OHLC time-series resampling ---------------------------------------------
@register(
    "ts_resample_ohlc",
    oracle="""
    WITH x AS (
      SELECT event_type, value, event_id,
             epoch_us(ts) // 3600000000 AS hour_bucket,
             ROW_NUMBER() OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000
                                ORDER BY epoch_us(ts), event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, epoch_us(ts) // 3600000000
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, hour_bucket,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
           COUNT(*) AS n
    FROM x
    GROUP BY event_type, hour_bucket
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample an event stream to hourly OHLC (open/high/low/close)
    bars per series — the canonical time-series rollup. Open/close are
    first/last by (ts, event_id); formulated as two row_number windows
    over the SAME (series, bucket) partitioning feeding one hash agg, so
    Spark plans a single sort+exchange reused by both windows. At 100 TB
    the shuffle is one row per (series, hour) after map-side partials
    for high/low/n; open/close ride the same exchange. (min_by/max_by
    would fold the windows into the agg but tie-break on value equality
    engine-specifically — the window form is deterministic. SURVEY
    §5.3.)"""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    x = e.select(
        "event_type",
        "value",
        "event_id",
        us.alias("us"),
        F.floor(us / US_PER_HOUR).alias("hour_bucket"),
    )
    pb = ["event_type", "hour_bucket"]
    wa = Window.partitionBy(*pb).orderBy("us", "event_id")
    wd = Window.partitionBy(*pb).orderBy(F.col("us").desc(), F.col("event_id").desc())
    x = x.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return x.groupBy(*pb).agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4).alias("open"),
        F.round(F.max("value"), 4).alias("high"),
        F.round(F.min("value"), 4).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


# --- time-series diagnostics -------------------------------------------------
_ACF_LAGS = range(1, 8)


@register(
    "ts_autocorr",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT rev,
             {", ".join(f"LAG(rev, {k}) OVER w AS r{k}" for k in _ACF_LAGS)}
      FROM d WINDOW w AS (ORDER BY day)
    ),
    c AS (
      SELECT {", ".join(f"corr(rev, r{k}) AS c{k}" for k in _ACF_LAGS)} FROM l
    )
    {" UNION ALL ".join(f"SELECT {k} AS lag, ROUND(c{k}, 4) + 0 AS acf FROM c" for k in _ACF_LAGS)}
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-revenue series at lags 1..7 — the
    seasonality probe run before forecasting or anomaly thresholds.

    The series is the OUTPUT of a distributed day-grain aggregation
    (one shuffle over the corpus → one row per day); the unpartitioned
    lag window then runs over thousands of rows, not 100 TB, so the
    single-task window is the cheap part by construction. ACF is over
    observed days (calendar gap-fill is `ts_gap_fill`'s job)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev", *[F.lag("rev", k).over(w).alias(f"r{k}") for k in _ACF_LAGS]
    )
    c = lagged.agg(
        *[
            (F.round(F.corr("rev", f"r{k}"), 4) + F.lit(0)).alias(f"c{k}")
            for k in _ACF_LAGS
        ]
    )
    stack = ", ".join(f"{k}, c{k}" for k in _ACF_LAGS)
    return c.select(
        F.expr(f"stack({len(list(_ACF_LAGS))}, {stack}) AS (lag, acf)")
    )


@register(
    "ts_seasonal_decompose",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT day, rev,
             AVG(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS trend
      FROM d
    )
    SELECT CAST(date_part('dow', day) AS INT) AS dow,
           COUNT(*) AS n_days,
           ROUND(AVG(rev - trend), 4) + 0 AS seasonal
    FROM t GROUP BY 1
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition, the moving-average flavor:
    trend = centered 7-day rolling mean of daily revenue, seasonal =
    day-of-week mean of the detrended series. Like `ts_autocorr`, all
    windowing happens on the post-aggregation day-grain series (tiny at
    any corpus scale); the corpus-sized work is the one day-grain
    shuffle. dow is 0=Sunday in both engines (Spark dayofweek() is
    1-based)."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day", "rev", F.avg("rev").over(w).alias("trend")
    )
    return t.groupBy(
        (F.dayofweek("day") - 1).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(F.avg(F.col("rev") - F.col("trend")), 4) + F.lit(0)).alias(
            "seasonal"
        ),
    )


# --- windowed quantiles ------------------------------------------------------
@register(
    "win_rolling_median",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT day, n,
           ROUND(quantile_cont(n, 0.5) OVER
             (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS med7
    FROM d
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling MEDIAN of the daily event rate — the
    robust-baseline flavor of `win_moving_avg` (a single spike day drags
    a mean but not a median; this is the denominator used by robust
    anomaly monitors).

    `percentile` as a true window aggregate (Spark keeps the frame's
    value buffer per row; linear-interpolation semantics match DuckDB's
    quantile_cont exactly). Same scale shape as all ts_ keys: the window
    runs over the post-aggregation day series, so the corpus-sized work
    is one day-grain shuffle."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return d.select(
        "day", "n", F.round(F.percentile("n", F.lit(0.5)).over(w), 4).alias("med7")
    )


# --- changepoint detection ---------------------------------------------------
@register(
    "ts_changepoint",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    m AS (SELECT AVG(n) AS mu FROM d),
    c AS (
      SELECT day, n,
             SUM(n - mu) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cum
      FROM d, m
    )
    SELECT day, n,
           ROUND(cum - MIN(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                      PRECEDING AND CURRENT ROW), 4) + 0
             AS ph,
           (cum - MIN(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW)) > 100 AS shifted
    FROM c
    """,
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley changepoint statistic on the daily event rate: the
    cumulative deviation from the global mean minus its running minimum —
    rises persistently only when the level shifts up, unlike a z-score
    which forgets (`events_anomaly_zscore` flags spikes; this flags
    regime changes).

    The textbook CUSUM recurrence S_t = max(0, S_{t-1} + dev) is a
    clamped fold no window function expresses; the Page-Hinkley form
    cum - running_min(cum) is algebraically its two-sided-reset cousin
    and is TWO prefix windows over the same sort — fully declarative.
    Corpus work: one day-grain agg; windows run on the day series."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    m = d.agg(F.avg("n").alias("mu"))
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.crossJoin(F.broadcast(m)).select(
        "day", "n", F.sum(F.col("n") - F.col("mu")).over(wp).alias("cum")
    )
    ph = F.col("cum") - F.min("cum").over(wp)
    return c.select(
        "day",
        "n",
        (F.round(ph, 4) + F.lit(0)).alias("ph"),
        (ph > 100).alias("shifted"),
    )


@register("ts_holt_winters")  # rows-only: the recursion is not
# SQL-expressible; pinned against an independent pandas loop in tests
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly seasonality,
    fixed α=0.3 β=0.1 γ=0.2) per event-type daily series, forecasting
    the next 7 days — the classical baseline every anomaly detector and
    capacity forecast is judged against [P — Holt/Winters literature].
    Fixed smoothing constants keep the key deterministic (parameter
    fitting would need an optimizer — out of contract).

    Scale shape: the corpus-sized work is the ONE (series, day) count
    agg; the recursion is inherently sequential IN TIME but independent
    ACROSS series, so it runs as applyInPandas per series key — the
    canonical Spark shape for per-entity recurrences (thousands of
    series parallelize; each series is one short numpy loop)."""
    import pandas as pd

    from pyspark.sql import functions as _F

    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            F.col("event_type").alias("series"), F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    m, alpha, beta, gamma, horizon = 7, 0.3, 0.1, 0.2, 7

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        if len(y) < 2 * m:  # not enough history for seasonal init
            return pd.DataFrame(
                {"series": [], "h": [], "forecast_r": []}
            ).astype({"series": str, "h": "int32", "forecast_r": float})
        level = y[:m].mean()
        trend = (y[m : 2 * m].mean() - y[:m].mean()) / m
        seas = [y[i] - level for i in range(m)]
        for t in range(len(y)):
            s = seas[t % m]
            new_level = alpha * (y[t] - s) + (1 - alpha) * (level + trend)
            trend = beta * (new_level - level) + (1 - beta) * trend
            seas[t % m] = gamma * (y[t] - new_level) + (1 - gamma) * s
            level = new_level
        n = len(y)
        return pd.DataFrame(
            {
                "series": pdf["series"].iloc[0],
                "h": list(range(1, horizon + 1)),
                "forecast_r": [
                    round(level + h * trend + seas[(n + h - 1) % m], 4)
                    for h in range(1, horizon + 1)
                ],
            }
        )

    return daily.groupBy("series").applyInPandas(
        hw, "series string, h int, forecast_r double"
    )


# ---------------------------------------------------------------------------
# ts_downsample_lttb
# ---------------------------------------------------------------------------
_LTTB_BUCKETS = 20


@register(
    "ts_downsample_lttb",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) // 86400
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT x, y,
             ROW_NUMBER() OVER (ORDER BY x) AS i,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    mid AS (  -- interior points bucketed into B equal index ranges
      SELECT x, y, i, n,
             (i - 2) * {_LTTB_BUCKETS} // (n - 2) AS b
      FROM idx WHERE i > 1 AND i < n
    ),
    anchors AS (  -- per-bucket integer centroid (floor), the parallel
                  -- stand-in for LTTB's sequential selected-point
      SELECT b, SUM(x) // COUNT(*) AS ax, SUM(y) // COUNT(*) AS ay
      FROM mid GROUP BY b
    ),
    scored AS (
      SELECT m.x, m.y, m.b,
             abs((m.x - p.ax) * (nx.ay - p.ay)
                 - (nx.ax - p.ax) * (m.y - p.ay)) AS area2
      FROM mid m
      LEFT JOIN anchors p ON p.b = m.b - 1
      LEFT JOIN anchors nx ON nx.b = m.b + 1
      WHERE p.b IS NOT NULL AND nx.b IS NOT NULL
    ),
    picked AS (
      SELECT b, x, y FROM (
        SELECT b, x, y,
               ROW_NUMBER() OVER (PARTITION BY b
                                  ORDER BY area2 DESC, x) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    ends AS (
      SELECT -1 AS b, x, y FROM idx WHERE i = 1
      UNION ALL
      SELECT {_LTTB_BUCKETS} AS b, x, y FROM idx WHERE i = n
      UNION ALL
      -- first and last interior buckets have no both-side anchor;
      -- keep their centroids so the output still spans them
      SELECT b, ax AS x, ay AS y FROM anchors
      WHERE b = 0 OR b = {_LTTB_BUCKETS - 1}
    )
    SELECT b AS bucket, CAST(x AS BIGINT) AS x_day, CAST(y AS BIGINT) AS y
    FROM (SELECT * FROM picked UNION ALL SELECT * FROM ends)
    """,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle downsampling of the daily event-volume series
    to ~{_LTTB_BUCKETS} visually-representative points [P — Steinarsson
    2013]. True LTTB anchors each bucket's choice on the PREVIOUS
    bucket's selected point — a sequential chain; this is the standard
    parallel variant that anchors on neighbor-bucket CENTROIDS instead
    (disclosed; selection quality is near-identical on smooth series
    and the plan is fully data-parallel). Endpoints are kept exactly;
    edge buckets fall back to centroids.

    All geometry is INTEGER: x in epoch days, y in counts, the triangle
    area via the 2x cross product (no float, no ulp) — the argmax per
    bucket is deterministic with an x tie-break and prunes via
    WindowGroupLimit. Corpus-sized work is the ONE daily aggregation;
    everything after runs on <=365 rows with two broadcast anchor
    joins. NULL timestamps have no x — pinned out two-sided (the NULL
    day otherwise lands at opposite ends of the ROW_NUMBER ordering on
    the two engines, swapping the endpoint picks; EDGE_SWEEP_r10
    class D)."""
    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = e.groupBy(
        (F.unix_timestamp(F.to_date("ts").cast("timestamp")) / 86400)
        .cast("bigint")
        .alias("x")
    ).agg(F.count(F.lit(1)).alias("y"))
    widx = Window.orderBy("x")  # <=365 rows: bounded by construction
    idx = daily.select(
        "x",
        "y",
        F.row_number().over(widx).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    ).localCheckpoint(eager=False)  # tiny frame, four consumers
    mid = idx.filter((F.col("i") > 1) & (F.col("i") < F.col("n"))).select(
        "x",
        "y",
        F.expr(f"(i - 2) * {_LTTB_BUCKETS} DIV (n - 2)").alias("b"),
    )
    anchors = mid.groupBy("b").agg(
        F.expr("SUM(x) DIV COUNT(*)").alias("ax"),
        F.expr("SUM(y) DIV COUNT(*)").alias("ay"),
    )
    p = anchors.select(
        (F.col("b") + 1).alias("b"), F.col("ax").alias("pax"),
        F.col("ay").alias("pay"),
    )
    nx = anchors.select(
        (F.col("b") - 1).alias("b"), F.col("ax").alias("nax"),
        F.col("ay").alias("nay"),
    )
    scored = (
        mid.join(F.broadcast(p), "b")
        .join(F.broadcast(nx), "b")
        .select(
            "b",
            "x",
            "y",
            F.abs(
                (F.col("x") - F.col("pax")) * (F.col("nay") - F.col("pay"))
                - (F.col("nax") - F.col("pax")) * (F.col("y") - F.col("pay"))
            ).alias("area2"),
        )
    )
    wb = Window.partitionBy("b").orderBy(F.desc("area2"), "x")
    picked = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("b", "x", "y")
    )
    ends = (
        idx.filter(F.col("i") == 1)
        .select(F.lit(-1).alias("b"), "x", "y")
        .unionAll(
            idx.filter(F.col("i") == F.col("n")).select(
                F.lit(_LTTB_BUCKETS).alias("b"), "x", "y"
            )
        )
        .unionAll(
            anchors.filter(
                (F.col("b") == 0) | (F.col("b") == _LTTB_BUCKETS - 1)
            ).select("b", F.col("ax").alias("x"), F.col("ay").alias("y"))
        )
    )
    return picked.unionAll(ends).select(
        F.col("b").cast("bigint").alias("bucket"),
        F.col("x").cast("bigint").alias("x_day"),
        F.col("y").cast("bigint").alias("y"),
    )


# ---------------------------------------------------------------------------
# ts_cusum_anomaly
# ---------------------------------------------------------------------------
@register(
    "ts_cusum_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    m AS (
      -- HUGEINT squares: daily counts grow with corpus volume and the
      -- BIGINT product crosses int64 near 3e9 events/day — ~100 TB flow
      -- volume (the r9 agg_hurst_exponent find, same class)
      SELECT event_type, COUNT(*) AS nd, SUM(cnt) AS s,
             SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS ss
      FROM daily GROUP BY event_type
    ),
    z AS (
      SELECT d.event_type, d.day,
             d.cnt,
             (d.cnt - s * 1.0 / nd)
               / SQRT((ss - s * 1.0 * s / nd) / (nd - 1)) - 0.5 AS dz
      FROM daily d JOIN m USING (event_type)
    ),
    p0 AS (
      SELECT event_type, day, cnt,
             SUM(dz) OVER (PARTITION BY event_type ORDER BY day) AS pt
      FROM z
    ),
    p AS (
      SELECT event_type, day, cnt, pt,
             MIN(pt) OVER (PARTITION BY event_type ORDER BY day) AS mt
      FROM p0
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(cnt AS BIGINT) AS cnt,
           ROUND(pt - LEAST(0, mt), 4) + 0 AS cusum,
           CAST(pt - LEAST(0, mt) > 3.0 AS BOOLEAN) AS is_drift
    FROM p ORDER BY event_type, day
    """,
)
def ts_cusum_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector on daily event counts per type
    (reference k = 0.5σ above mean, threshold h = 3σ, in standardized
    units). The textbook recursion S_t = max(0, S_{t-1} + z_t − k) is
    not a window aggregate — but it has the exact closed form
    S_t = P_t − min(0, min_{j≤t} P_j) where P is the plain cumulative
    sum of (z − k), so the whole detector is two stacked window
    functions: a running sum and a running min over it. No recursion,
    no UDF, no per-group iteration.

    Group moments come from integer-exact (n, Σc, Σc²) partials, so
    both engines standardize with bit-identical doubles. The windows
    partition by event_type — one hash exchange for the daily rollup,
    one for the windows. DuckDB rejects nested window calls, so the
    oracle stages P_t in a CTE (§8 catalog)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("cnt").alias("s"),
        # decimal(19,0) squares (r9, the agg_hurst_exponent class): the
        # BIGINT product crosses int64 near 3e9 events/day — ~100 TB
        # flow volume; HUGEINT-mirrored in the oracle, one double
        # conversion at the subtraction as before
        F.sum(
            F.col("cnt").cast("decimal(19,0)")
            * F.col("cnt").cast("decimal(19,0)")
        ).alias("ss"),
    )
    nd, s, ss = F.col("nd"), F.col("s"), F.col("ss")
    z = daily.join(F.broadcast(m), "event_type").select(
        "event_type",
        "day",
        "cnt",
        (
            # try_divide twice: a single day (nd==1) or zero variance
            # leaves z undefined -> NULL, matching DuckDB's
            # NULL-on-zero-divisor division (r7 edge sweep)
            F.try_divide(
                F.col("cnt") - s * 1.0 / nd,
                F.sqrt(F.try_divide(ss - s * 1.0 * s / nd, nd - 1)),
            )
            - F.lit(0.5)
        ).alias("dz"),
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    p = z.withColumn("pt", F.sum("dz").over(wd)).withColumn(
        "mt", F.min("pt").over(wd)
    )
    cusum = F.col("pt") - F.least(F.lit(0.0), F.col("mt"))
    # day emitted as a STRING: DuckDB's DATE round-trips to pandas as
    # datetime64 when the source ts is ns-precision (fixture-dependent),
    # which canonicalizes differently from Spark's datetime.date
    return p.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cnt").cast("bigint").alias("cnt"),
        (F.round(cusum, 4) + F.lit(0)).alias("cusum"),
        (cusum > 3.0).alias("is_drift"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# ts_rolling_corr
# ---------------------------------------------------------------------------
@register(
    "ts_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             count_if(event_type = 'click') AS clicks,
             count_if(event_type = 'purchase') AS purchases
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    w AS (
      SELECT day,
             COUNT(*) OVER win AS n_days,
             SUM(clicks) OVER win AS sx,
             SUM(purchases) OVER win AS sy,
             SUM(clicks * purchases) OVER win AS sxy,
             SUM(clicks * clicks) OVER win AS sxx,
             SUM(purchases * purchases) OVER win AS syy
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(n_days AS BIGINT) AS n_days,
           ROUND((n_days * sxy - sx * sy)
                 / NULLIF(sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                               * (n_days * syy - sy * sy)), 0), 4) + 0
             AS rolling_corr
    FROM w WHERE n_days = 7 ORDER BY day
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day correlation between the daily click and purchase
    series — the co-movement diagnostic behind 'did these two metrics
    decouple this week?' alerting; windows shorter than 7 days are
    suppressed (corr over 2-3 points is noise).

    The daily pivot is ONE conditional-count aggregate (no pivot
    shuffle); the correlation runs as window SUMs of the integer moment
    products over a 7-row frame on the days table — bounded (one row
    per day), so the unpartitioned frame is fine at any corpus size.
    Moments are computed explicitly (not via the built-in `corr`):
    ANSI-mode corr raises DIVIDE_BY_ZERO on a zero-variance window
    where DuckDB yields NULL, and exact int64 moment sums + one
    try_divide give the IDENTICAL double on both engines with NULL on
    the degenerate window (EDGE_SWEEP_r10 class B). NULL timestamps
    have no day — gated two-sided (NULL-day trailing windows would
    otherwise pick up Spark-NULLS-FIRST vs DuckDB-NULLS-LAST frame
    contents). `+ 0` canonicalizes the −0.0 a flat week can round to."""
    daily = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count_if(F.col("event_type") == "click").alias("clicks"),
            F.count_if(F.col("event_type") == "purchase").alias("purchases"),
        )
    )
    win = Window.orderBy("day").rowsBetween(-6, 0)
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).alias("n_days"),
        F.sum("clicks").over(win).alias("sx"),
        F.sum("purchases").over(win).alias("sy"),
        F.sum(F.col("clicks") * F.col("purchases")).over(win).alias("sxy"),
        F.sum(F.col("clicks") * F.col("clicks")).over(win).alias("sxx"),
        F.sum(F.col("purchases") * F.col("purchases")).over(win).alias("syy"),
    )
    num = (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        w.filter(F.col("n_days") == 7)
        .select(
            "day",
            F.col("n_days").cast("bigint").alias("n_days"),
            (F.round(F.try_divide(num, den), 4) + F.lit(0)).alias("rolling_corr"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ts_bollinger_bands
# ---------------------------------------------------------------------------
@register(
    "ts_bollinger_bands",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS rev_c
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY 1
    ),
    w AS (
      SELECT day, rev_c,
             COUNT(*) OVER win AS n_days,
             AVG(rev_c) OVER win AS mu,
             STDDEV_SAMP(rev_c) OVER win AS sigma
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           ROUND(rev_c / 100.0, 4) AS revenue,
           ROUND(mu / 100.0, 4) AS ma7,
           ROUND((mu + 2 * sigma) / 100.0, 4) AS band_hi,
           ROUND((mu - 2 * sigma) / 100.0, 4) AS band_lo,
           CAST(rev_c > mu + 2 * sigma AS BOOLEAN) AS breakout_hi,
           CAST(rev_c < mu - 2 * sigma AS BOOLEAN) AS breakout_lo
    FROM w WHERE n_days = 7 ORDER BY day
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on daily purchase revenue: trailing 7-day mean
    ± 2 sample standard deviations, with breakout flags — the
    volatility envelope that separates 'big day' from 'anomalous day'
    relative to RECENT variance (vs `events_anomaly_zscore`'s global
    z). Sub-window days are suppressed.

    Daily revenue aggregates as INTEGER cents, so the rolling moment
    sums are bit-identical between engines before the final /100
    display division (the all-integer-state lesson from §8's running-
    mean catalog entry); the window is a bounded one-row-per-day frame
    after one combinable daily aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("rev_c"))
    )
    win = Window.orderBy("day").rowsBetween(-6, 0)
    w = daily.select(
        "day",
        "rev_c",
        F.count(F.lit(1)).over(win).alias("n_days"),
        F.avg("rev_c").over(win).alias("mu"),
        F.stddev_samp("rev_c").over(win).alias("sigma"),
    )
    mu, sg, rev = F.col("mu"), F.col("sigma"), F.col("rev_c")
    return (
        w.filter(F.col("n_days") == 7)
        .select(
            "day",
            F.round(rev / 100.0, 4).alias("revenue"),
            F.round(mu / 100.0, 4).alias("ma7"),
            F.round((mu + 2 * sg) / 100.0, 4).alias("band_hi"),
            F.round((mu - 2 * sg) / 100.0, 4).alias("band_lo"),
            (rev > mu + 2 * sg).alias("breakout_hi"),
            (rev < mu - 2 * sg).alias("breakout_lo"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ts_pacf
# ---------------------------------------------------------------------------
@register("ts_pacf")  # rows-only: Durbin-Levinson is recursive (no SQL form)
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily-revenue series at lags 1..7
    via Durbin–Levinson — the AR-order picker: ACF (`ts_autocorr`)
    tails off for AR processes while PACF CUTS OFF at the true order,
    so the pair identifies the model. φ_kk comes from the standard
    recursion on the ACF sequence.

    Distributed shape: the corpus collapses to one row per day in ONE
    aggregate shuffle; the ACF lags are window covariances over the
    bounded day table; the k ≤ 7 Durbin–Levinson recursion runs on the
    7-element ACF vector DRIVER-side (an O(k²) scalar loop — the same
    bounded-driver-state pattern as `emb_whitening`'s 64×64 eigh).
    Rows-only: the recursion has no SQL form; the suite pins it against
    an independent pure-python Levinson implementation and the
    lag-1 PACF ≡ ACF identity."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
    )
    wd = Window.orderBy("day")
    n_days = daily.count()
    # ACF at lags 0..7 from integer-exact moments on the bounded table
    rows = (
        daily.select(
            "rev",
            *[F.lag("rev", k).over(wd).alias(f"l{k}") for k in range(1, 8)],
        )
        .agg(
            F.avg("rev").alias("mu"),
            # decimal(19,0) squares: daily cents grow with corpus volume
            # and the BIGINT product crosses int64 near 3e9 cents/day —
            # ~100 TB flow volume (the r9 agg_hurst_exponent find, same
            # class); sums stay exact in decimal38, Python receives
            # Decimal and the float conversion happens once below
            F.sum(
                F.col("rev").cast("decimal(19,0)")
                * F.col("rev").cast("decimal(19,0)")
            ).alias("ss"),
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.col("rev").cast("decimal(19,0)")
                    * F.col(f"l{k}").cast("decimal(19,0)")
                ).alias(f"s{k}")
                for k in range(1, 8)
            ],
            *[F.count(F.col(f"l{k}")).alias(f"c{k}") for k in range(1, 8)],
            *[F.sum(F.col(f"l{k}")).alias(f"sl{k}") for k in range(1, 8)],
            *[
                F.sum(F.when(F.col(f"l{k}").isNotNull(), F.col("rev"))).alias(
                    f"sr{k}"
                )
                for k in range(1, 8)
            ],
        )
        .collect()[0]
    )
    mu, n = rows["mu"], rows["n"]
    # degenerate series (r7 edge sweep): fewer than 2 days has no lag-1
    # pair and a constant series has zero variance — PACF undefined,
    # empty result; lags beyond n-1 have no overlap and are not emitted
    max_lag = min(7, (n or 0) - 1)
    # the decimal sums arrive as Decimal — one float conversion here
    # (the statistic is float from this point on either way)
    var = (float(rows["ss"]) / n - mu * mu) if n else 0.0
    if max_lag < 1 or var <= 0:
        return spark.createDataFrame(
            [], "lag int, n_days long, acf double, pacf double"
        )
    acf = [1.0]
    for k in range(1, max_lag + 1):
        # standard ACF estimator: 1/n Σ (x_t-μ)(x_{t-k}-μ) / var
        cov = (
            float(rows[f"s{k}"]) - mu * rows[f"sl{k}"] - mu * rows[f"sr{k}"]
            + rows[f"c{k}"] * mu * mu
        ) / n
        acf.append(cov / var)
    # Durbin-Levinson on the 8-element ACF — bounded driver state
    pacf = [1.0]
    phi_prev: list[float] = []
    for k in range(1, max_lag + 1):
        if k == 1:
            phi_kk = acf[1]
            phi_prev = [phi_kk]
        else:
            num = acf[k] - sum(phi_prev[j] * acf[k - 1 - j] for j in range(k - 1))
            den = 1.0 - sum(phi_prev[j] * acf[j + 1] for j in range(k - 1))
            if den == 0.0:
                break  # perfectly predictable series: recursion exhausted
            phi_kk = num / den
            phi_prev = [
                phi_prev[j] - phi_kk * phi_prev[k - 2 - j] for j in range(k - 1)
            ] + [phi_kk]
        pacf.append(phi_kk)
    out = [
        (k, n_days, round(acf[k], 4), round(pacf[k], 4))
        for k in range(1, len(pacf))
    ]
    return spark.createDataFrame(
        out, "lag int, n_days long, acf double, pacf double"
    )


# ---------------------------------------------------------------------------
# ts_hampel_outliers
# ---------------------------------------------------------------------------
@register(
    "ts_hampel_outliers",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT day, rev,
             COUNT(*) OVER win AS n_win,
             quantile_cont(rev, 0.5) OVER win AS rmed
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    mad AS (
      SELECT day, rev, n_win, rmed,
             quantile_cont(ABS(rev - rmed), 0.5) OVER win AS rmad
      FROM med
      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           ROUND(rev / 100.0, 4) AS revenue,
           ROUND(rmed / 100.0, 4) AS rolling_median,
           ROUND(1.4826 * rmad / 100.0, 4) AS robust_sigma,
           CAST(ABS(rev - rmed) > 3 * 1.4826 * rmad AS BOOLEAN) AS is_outlier
    FROM mad WHERE n_win = 7 ORDER BY day
    """,
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter on daily revenue: flag days where
    |x − rolling median| > 3 × 1.4826 × rolling MAD — the ROBUST
    outlier detector. The mean ± kσ detectors (`ts_bollinger_bands`,
    `events_anomaly_zscore`) let one giant spike inflate σ and mask
    its neighbors; median and MAD have a 50% breakdown point, so a
    spike cannot hide itself.

    Variant the oracle encodes: the second window takes the median of
    each frame MEMBER's own pre-computed deviation |rev_j − rmed_j| —
    the 'pre-centered' streaming-Hampel form that two stacked window
    passes can express (the textbook form recenters every deviation on
    the current row's median, which would need a per-row nested frame).
    Both engines compute THIS form identically and the suite replicates
    it. Exact window percentiles over the bounded days table; integer
    cents until display."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
    )
    win = Window.orderBy("day").rowsBetween(-6, 0)
    med = daily.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.expr("percentile(rev, 0.5)").over(win).alias("rmed"),
    )
    mad = med.withColumn(
        "rmad",
        F.expr("percentile(ABS(rev - rmed), 0.5)").over(
            Window.orderBy("day").rowsBetween(-6, 0)
        ),
    )
    dev = F.abs(F.col("rev") - F.col("rmed"))
    return (
        mad.filter(F.col("n_win") == 7)
        .select(
            "day",
            F.round(F.col("rev") / 100.0, 4).alias("revenue"),
            F.round(F.col("rmed") / 100.0, 4).alias("rolling_median"),
            F.round(F.lit(1.4826) * F.col("rmad") / 100.0, 4).alias("robust_sigma"),
            (dev > 3 * 1.4826 * F.col("rmad")).alias("is_outlier"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# ts_mann_kendall
# ---------------------------------------------------------------------------
@register(
    "ts_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    s AS (
      SELECT SUM(sgn) AS s_stat,
             (SELECT COUNT(*) FROM daily) AS n
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           ROUND(n * (n - 1) * (2 * n + 5) / 18.0, 4) AS var_s,
           ROUND(CASE WHEN s_stat > 0
                      THEN (s_stat - 1) / SQRT(n * (n - 1) * (2 * n + 5) / 18.0)
                      WHEN s_stat < 0
                      THEN (s_stat + 1) / SQRT(n * (n - 1) * (2 * n + 5) / 18.0)
                      ELSE 0.0 END, 4) + 0 AS z,
           ROUND(s_stat * 2.0 / (n * (n - 1)), 4) + 0 AS kendall_tau
    FROM s
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on daily revenue: S = Σ_{i<j}
    sign(x_j − x_i) over all day pairs, with the no-ties variance
    n(n−1)(2n+5)/18 and the continuity-corrected z — the hydrology/ops
    standard for 'is this series monotonically trending?' with NO
    distribution or linearity assumption (complement:
    `stats_runs_test` asks 'is it random?', `agg_linreg` fits a slope
    that outliers own). Kendall's τ = 2S/(n(n−1)) reported as the
    effect size.

    The day-pair comparison is a self-join of the BOUNDED daily table
    (one row per day — 30×29/2 pairs here, ~66k for a 1-year window;
    the corpus-sized work is the one day-grain aggregate). Integer
    cents make every sign exact; ties contribute 0 on both engines
    identically."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .localCheckpoint()  # pair join reads both sides from one compute
    )
    a = daily.select(F.col("d").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("d").alias("db"), F.col("rev").alias("rb"))
    sgn = (
        F.when(F.col("rb") > F.col("ra"), 1)
        .when(F.col("rb") < F.col("ra"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(sgn.alias("sgn"))
    n_days = daily.count()
    s = pairs.agg(F.sum("sgn").alias("s_stat"))
    n = F.lit(n_days)
    var_s = n * (n - 1) * (2 * n + 5) / 18.0
    ss = F.col("s_stat")
    z = (
        F.when(ss > 0, (ss - 1) / F.sqrt(var_s))
        .when(ss < 0, (ss + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return s.select(
        n.cast("bigint").alias("n_days"),
        ss.cast("bigint").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        (F.round(z, 4) + F.lit(0)).alias("z"),
        (F.round(ss * 2.0 / (n * (n - 1)), 4) + F.lit(0)).alias("kendall_tau"),
    )


# ---------------------------------------------------------------------------
# ts_index_rebase
# ---------------------------------------------------------------------------
@register(
    "ts_index_rebase",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    based AS (
      SELECT event_type, day, rev,
             FIRST_VALUE(rev) OVER (PARTITION BY event_type ORDER BY day)
               AS base
      FROM daily
    )
    SELECT event_type, day,
           ROUND(100.0 * rev / base, 4) AS index_100
    FROM based ORDER BY event_type, day
    """,
)
def ts_index_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-100 rebasing: every type's daily revenue relative to its
    OWN first day = 100 — the BI normalization that puts series of
    wildly different magnitudes on one chart and turns 'purchase makes
    10× click's revenue' into 'purchase grew 12% while click fell 3%'.
    Day 1 is exactly 100 for every series (pinned).

    One day-grain integer aggregate, then FIRST_VALUE over each type's
    bounded day partition — two exchanges; integer cents keep the
    base and numerator engine-exact before the single display
    division."""
    daily = (
        table(spark, sf_dir, "events")
        # two-sided gate: a NULL-ts row has no day to index — and under
        # mixed NULLs Spark's ASC window puts the NULL day FIRST (it
        # would become every series' base) where DuckDB puts it last
        # (r8 nullmix sweep)
        .filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    based = daily.withColumn("base", F.first("rev").over(w))
    return based.select(
        "event_type",
        "day",
        # try_divide: a base day of exactly 0 cents leaves the index
        # undefined (NULL), matching DuckDB x/0
        F.round(F.try_divide(100.0 * F.col("rev"), F.col("base")), 4).alias(
            "index_100"
        ),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# ts_seasonality_strength
# ---------------------------------------------------------------------------
@register(
    "ts_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    t AS (
      SELECT day, rev,
             AVG(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS trend,
             COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS n_win
      FROM daily
    ),
    det AS (
      SELECT day, rev, trend, rev - trend AS detr,
             dayofweek(day) AS dow
      FROM t WHERE n_win = 7
    ),
    seas AS (
      SELECT det.*, AVG(detr) OVER (PARTITION BY dow) AS seasonal
      FROM det
    ),
    parts AS (
      SELECT rev, trend, seasonal, rev - trend - seasonal AS resid
      FROM seas
    ),
    v AS (
      SELECT COUNT(*) AS n,
             (SUM(resid * resid) - SUM(resid) * SUM(resid) / COUNT(*))
               AS ss_r,
             (SUM((seasonal + resid) * (seasonal + resid))
              - SUM(seasonal + resid) * SUM(seasonal + resid) / COUNT(*))
               AS ss_sr,
             (SUM((trend + resid) * (trend + resid))
              - SUM(trend + resid) * SUM(trend + resid) / COUNT(*)) AS ss_tr
      FROM parts
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(GREATEST(0, 1 - ss_r / ss_tr), 4) AS trend_strength,
           ROUND(GREATEST(0, 1 - ss_r / ss_sr), 4) AS seasonal_strength
    FROM v
    """,
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's decomposition-strength measures on daily order
    revenue: F_T = max(0, 1 − Var(R)/Var(T+R)) and
    F_S = max(0, 1 − Var(R)/Var(S+R)) from the same classical
    decomposition as `ts_seasonal_decompose` (centered 7-day trend,
    day-of-week seasonal of the detrended series) — the two scalars
    that decide whether a forecaster needs a trend term, a seasonal
    term, both or neither, before anyone eyeballs the decomposition
    plot.

    Corpus work is the one day-grain aggregate; decomposition windows
    and the variance pass run over the bounded day table; the dow
    numbering is 0=Sunday in BOTH engines at this call pattern (the
    `ts_seasonal_decompose` precedent)."""
    o = table(spark, sf_dir, "orders")
    # two-sided gate: a dateless order is not a time-series point, and
    # under mixed NULLs Spark's ASC window sorts the NULL day FIRST
    # where DuckDB sorts it LAST — the 7-row trend frames would differ
    # (r8 nullmix sweep)
    daily = (
        o.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "rev",
        F.avg("rev").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    ).filter(F.col("n_win") == 7)
    det = t.select(
        "rev",
        "trend",
        (F.col("rev") - F.col("trend")).alias("detr"),
        (F.dayofweek("day") - 1).alias("dow"),
    )
    seas = det.withColumn(
        "seasonal", F.avg("detr").over(Window.partitionBy("dow"))
    )
    parts = seas.select(
        "rev",
        "trend",
        "seasonal",
        (F.col("rev") - F.col("trend") - F.col("seasonal")).alias("resid"),
    )
    r, s, tr = F.col("resid"), F.col("seasonal"), F.col("trend")
    nn = F.count(F.lit(1))
    v = parts.agg(
        nn.alias("n"),
        (F.sum(r * r) - F.sum(r) * F.sum(r) / nn).alias("ss_r"),
        (
            F.sum((s + r) * (s + r)) - F.sum(s + r) * F.sum(s + r) / nn
        ).alias("ss_sr"),
        (
            F.sum((tr + r) * (tr + r)) - F.sum(tr + r) * F.sum(tr + r) / nn
        ).alias("ss_tr"),
    )
    return v.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(F.greatest(F.lit(0.0), 1 - F.col("ss_r") / F.col("ss_tr")), 4).alias(
            "trend_strength"
        ),
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("ss_r") / F.col("ss_sr")), 4
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# ts_theil_sen
# ---------------------------------------------------------------------------
@register(
    "ts_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS i
      FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    slopes AS (
      SELECT (b.rev - a.rev) * 1.0 / (b.i - a.i) AS slope
      FROM daily a JOIN daily b ON a.i < b.i
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_slopes,
           ROUND(quantile_cont(slope, 0.5) / 100.0, 4) + 0
             AS theil_sen_slope,
           ROUND((SELECT regr_slope(rev * 1.0, i * 1.0) FROM daily)
                 / 100.0, 4) + 0 AS ols_slope
    FROM slopes
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of daily revenue: the MEDIAN of
    all pairwise slopes (xⱼ−xᵢ)/(j−i) — up to 29% of days can be
    corrupted before the estimate moves, where one bad day owns the
    OLS slope (reported alongside; their gap is the outlier-influence
    signal). The slope companion to `ts_mann_kendall`'s trend verdict:
    MK says WHETHER it trends, Theil–Sen says HOW FAST, robustly.

    Pairwise slopes are a self-join of the BOUNDED checkpointed daily
    table (n(n−1)/2 of one-row-per-day); integer day indices and
    integer cents make each slope a ratio of exact integers; the
    median is an exact percentile over the pair table."""
    daily = (
        table(spark, sf_dir, "events")
        # two-sided gate: dateless events are not series points (r8 nullmix)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .withColumn("i", F.row_number().over(Window.orderBy("day")))
        .localCheckpoint()  # pair sides + OLS sibling share one compute
    )
    n_days = daily.count()
    ols = daily.agg(
        F.regr_slope(F.col("rev") * 1.0, F.col("i").cast("double")).alias("s")
    ).collect()[0]["s"]
    a = daily.select(F.col("i").alias("ia"), F.col("rev").alias("ra"))
    b = daily.select(F.col("i").alias("ib"), F.col("rev").alias("rb"))
    slopes = a.join(b, F.col("ia") < F.col("ib")).select(
        ((F.col("rb") - F.col("ra")) * 1.0 / (F.col("ib") - F.col("ia"))).alias(
            "slope"
        )
    )
    return slopes.agg(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_slopes"),
        (F.round(F.expr("percentile(slope, 0.5)") / 100.0, 4) + F.lit(0)).alias(
            "theil_sen_slope"
        ),
        (F.round(F.lit(ols) / 100.0, 4) + F.lit(0)).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_mase
# ---------------------------------------------------------------------------
@register(
    "ts_forecast_mase",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT rev,
             LAG(rev, 7) OVER (ORDER BY day) AS snaive,
             LAG(rev, 1) OVER (ORDER BY day) AS naive
      FROM daily
    )
    -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
    SELECT CAST(COALESCE(count_if(snaive IS NOT NULL), 0) AS BIGINT) AS n_scored,
           ROUND(AVG(CASE WHEN snaive IS NOT NULL
                     THEN ABS(rev - snaive) / 100.0 END), 4)
             AS mae_snaive,
           ROUND(AVG(CASE WHEN naive IS NOT NULL
                     THEN ABS(rev - naive) / 100.0 END), 4) AS mae_naive,
           ROUND(AVG(CASE WHEN snaive IS NOT NULL
                     THEN ABS(rev - snaive) * 1.0 END)
                 / AVG(CASE WHEN naive IS NOT NULL
                       THEN ABS(rev - naive) * 1.0 END), 4) AS mase
    FROM lagged
    """,
)
def ts_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE for the seasonal-naive (same weekday last week) forecast of
    daily revenue, scaled by the one-step naive error: MASE < 1 means
    the weekly pattern genuinely predicts (beat the naive in-sample
    benchmark), > 1 means it doesn't — the scale-free forecast metric
    that survives zero days and cross-series comparison where MAPE
    (`events_forecast_backtest`'s family) divides by zero and favors
    under-forecasts [Hyndman & Koehler 2006].

    Both forecasts are lag windows over the bounded day table; integer
    cents keep every |error| exact before the two display divisions."""
    from pyspark.sql import Window

    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev",
        F.lag("rev", 7).over(w).alias("snaive"),
        F.lag("rev", 1).over(w).alias("naive"),
    )
    s_ok = F.col("snaive").isNotNull()
    n_ok = F.col("naive").isNotNull()
    abs_s = F.abs(F.col("rev") - F.col("snaive"))
    abs_n = F.abs(F.col("rev") - F.col("naive"))
    return lagged.agg(
        F.count_if(s_ok).cast("bigint").alias("n_scored"),
        F.round(F.avg(F.when(s_ok, abs_s / 100.0)), 4).alias("mae_snaive"),
        F.round(F.avg(F.when(n_ok, abs_n / 100.0)), 4).alias("mae_naive"),
        F.round(
            # try_divide: a constant series (naive MAE 0) leaves MASE
            # undefined -> NULL, matching DuckDB (r7 edge sweep)
            F.try_divide(
                F.avg(F.when(s_ok, abs_s * 1.0)), F.avg(F.when(n_ok, abs_n * 1.0))
            ),
            4,
        ).alias("mase"),
    )


# --- period-over-period comparison -------------------------------------------
@register(
    "ts_period_over_period",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    l AS (
      SELECT day, rev_c,
             LAG(rev_c, 7) OVER (ORDER BY day) AS rev_prev_c
      FROM d
    )
    SELECT CAST(day AS TIMESTAMP) AS day, rev_c, rev_prev_c,
           CAST((10000 * (rev_c - rev_prev_c)) // rev_prev_c AS BIGINT)
             AS wow_bp
    FROM l WHERE rev_prev_c IS NOT NULL AND rev_prev_c > 0
    """,
)
def ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue deltas — the default dashboard comparison
    (same-day-last-week removes the weekly cycle that day-over-day
    comparisons alias into noise). Values stay integer cents and the
    delta is floor-divided basis points, so the hash gate holds.

    The lag-7 window runs over the POST-AGG day series (one row per
    day — thousands of rows at any corpus size; the corpus-scale work
    is the one day-keyed agg), the same post-agg discipline as the
    other ts_ keys. Calendar gaps: lag(7) here means '7 observed days
    back'; calendar-exact alignment composes with `ts_gap_fill`."""
    from pyspark.sql import Window

    from ..catalog import table as _table

    o = _table(spark, sf_dir, "orders")
    # two-sided gate: dateless orders are not series points, and the
    # NULL day would sort FIRST in Spark / LAST in DuckDB, shifting
    # every lag-7 alignment (r8 nullmix sweep)
    o = o.filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    l = d.select(
        "day",
        "rev_c",
        F.lag("rev_c", 7).over(Window.orderBy("day")).alias("rev_prev_c"),
    )
    return l.filter(
        F.col("rev_prev_c").isNotNull() & (F.col("rev_prev_c") > 0)
    ).select(
        # timestamp-typed day (SURVEY §5.3: both engines' pandas dtype for
        # DATE differ; date_trunc/timestamp is the certified convention)
        F.col("day").cast("timestamp").alias("day"),
        "rev_c",
        "rev_prev_c",
        F.expr(
            "CAST((10000 * (rev_c - rev_prev_c)) DIV rev_prev_c AS BIGINT)"
        ).alias("wow_bp"),
    )


# --- time-series subsequence similarity search -------------------------------
@register("ts_subsequence_search")  # rows-only: z-normalized Euclidean
# involves per-window float sqrt/mean; pinned against numpy in tests
def ts_subsequence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (cf. the EDBT'19
    distributed streaming-similarity line [PAPERS.md], UCR-suite-style
    z-normalized Euclidean): which 8-day revenue windows look most like
    the most recent one? Every window and the query are z-normalized so
    the match is SHAPE, not level — the primitive under motif discovery
    and 'find me a week like this one' ops analytics.

    Scale shape: the corpus-scale work is the day-keyed agg; sliding
    windows materialize over the POST-AGG day series via lead() arrays
    (series length = days, thousands of rows at any corpus size — the
    ts_ post-agg discipline); the query window is a 1-row collect
    broadcast as a literal; distance is a zip_with fold; top-5 plans as
    TakeOrderedAndProject. At many-series scale the same shape runs
    per series_id with the window PARTITIONED BY series."""
    from pyspark.sql import Window

    from ..catalog import table as _table

    L = 8
    o = _table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (F.sum(F.round(F.col("o_totalprice") * 100)) / 100.0).alias("rev")
    )
    wd = Window.orderBy("day")  # post-agg day series (ts_ discipline)
    win = (
        d.select(
            "day",
            F.array(
                *[F.lead("rev", i).over(wd) for i in range(L)]
            ).alias("w"),
        )
        .filter(~F.exists("w", lambda x: x.isNull()))
        .localCheckpoint()
    )
    q_rows = win.orderBy(F.desc("day")).limit(1).collect()
    if not q_rows:
        # fewer than L days: no query window exists (r7 edge sweep)
        return spark.createDataFrame([], "start_day timestamp, zdist double")
    q = q_rows[0]
    import math

    qm = sum(q["w"]) / L
    qs = math.sqrt(sum((x - qm) ** 2 for x in q["w"]) / L) or 1e-9
    zq = F.lit([float((x - qm) / qs) for x in q["w"]])

    m = F.aggregate("w", F.lit(0.0), lambda a, x: a + x) / L
    s2 = F.aggregate(
        F.transform("w", lambda x: (x - F.col("_m")) * (x - F.col("_m"))),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / L
    zdist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.transform("w", lambda x: (x - F.col("_m")) / F.col("_s")),
                zq,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return (
        win.filter(F.col("day") < F.date_sub(F.lit(q["day"]), L - 1))
        .withColumn("_m", m)
        .withColumn("_s", F.sqrt(s2) + F.lit(1e-9))
        .select(
            F.col("day").cast("timestamp").alias("start_day"),
            F.round(zdist, 4).alias("zdist"),
        )
        .orderBy("zdist", "start_day")
        .limit(5)
    )
