"""Behavioral event analytics (``events_*``, ``data_*``, ``drift_*``).

Funnels, retention and cohorts, sessionization, attribution, experiment
readouts, and data-quality checks over the events table — the
ClickHouse event-analytics surface (``retention``, ``sequenceMatch``,
``windowFunnel`` [P]) that the flows/events table serves.

Per-user state stays bounded (a set of active days, an ordered type
string), so ``collect_set``/``collect_list`` payloads stay small no
matter the corpus row count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..registry import register
from .windows import US_PER_HOUR


@register(
    "events_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click'
                 THEN epoch_us(ts) END) AS first_click,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN first_click IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
           CAST(SUM(CASE WHEN first_click IS NOT NULL
                          AND first_purchase > first_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           ROUND(SUM(CASE WHEN first_click IS NOT NULL
                           AND first_purchase > first_click
                     THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN first_click IS NOT NULL
                              THEN 1 ELSE 0 END), 0), 4) AS conv_rate
    FROM u
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step conversion funnel (click → later purchase) per user,
    collapsed to corpus-level rates — the canonical event-analytics
    query (ClickHouse ships `windowFunnel` for it [P]). One shuffle:
    conditional-min per user is a partial+final hash aggregate, the
    final global rollup is a single-row reduce. Timestamps compare as
    `unix_micros` — both engines floor the fixture's ns parquet to µs,
    so the strict inequality is bit-identical (SURVEY §5.3.2). The
    ratio needs no epsilon rounding: it's a quotient of exact ints."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", us)).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_purchase"
        ),
    )
    clicked = F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
    converted = F.when(
        F.col("first_click").isNotNull()
        & (F.col("first_purchase") > F.col("first_click")),
        1,
    ).otherwise(0)
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(clicked).alias("n_clicked"),
        F.sum(converted).alias("n_converted"),
        F.round(
            F.sum(converted) * 1.0 / F.nullif(F.sum(clicked), F.lit(0)), 4
        ).alias("conv_rate"),
    )


# --- anomaly detection: trailing z-score -------------------------------------
@register(
    "events_anomaly_zscore",
    oracle="""
    WITH h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), z AS (
      SELECT event_type, hour_bucket, n,
             AVG(n) OVER w AS mu,
             STDDEV_SAMP(n) OVER w AS sigma,
             COUNT(*) OVER w AS n_hist
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour_bucket, n,
           ROUND((n - mu) / sigma, 4) AS zscore
    FROM z
    WHERE n_hist >= 12 AND sigma > 0 AND ABS((n - mu) / sigma) >= 2.0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops anomaly detection: hourly event-rate z-score against each
    series' trailing 24-hour window (excluding the current hour), flag
    |z| ≥ 2 with ≥12 h of history. The pre-aggregation is the scale
    valve: the window runs over one row per (series, hour) — at 100 TB
    that is ~10⁵ rows per series-year, trivially windowable — never over
    raw events. Rows-frame trailing stats then stay executor-local per
    series."""
    e = table(spark, sf_dir, "events")
    h = (
        e.select(
            "event_type",
            F.floor(F.unix_micros("ts") / US_PER_HOUR).alias("hour_bucket"),
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rowsBetween(-24, -1)
    )
    z = h.select(
        "event_type",
        "hour_bucket",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    zexpr = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        z.filter(
            (F.col("n_hist") >= 12) & (F.col("sigma") > 0) & (F.abs(zexpr) >= 2.0)
        )
        .select(
            "event_type", "hour_bucket", "n", F.round(zexpr, 4).alias("zscore")
        )
    )


# --- data profiling ----------------------------------------------------------
_PROFILE_NUM = ["o_orderkey", "o_custkey", "o_totalprice"]
_PROFILE_STR = ["o_orderstatus", "o_orderpriority"]


@register(
    "data_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n,
           COUNT(*) - COUNT(o_orderkey) AS nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           ROUND(MIN(o_orderkey) + 0.0, 4) AS min_num,
           ROUND(MAX(o_orderkey) + 0.0, 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey), ROUND(MIN(o_custkey) + 0.0, 4),
           ROUND(MAX(o_custkey) + 0.0, 4), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice), ROUND(MIN(o_totalprice), 4),
           ROUND(MAX(o_totalprice), 4), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), NULL, NULL,
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), NULL, NULL,
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (row count, null count, exact distinct
    cardinality, min/max) — the ingest-time quality gate every pipeline
    runs before trusting a new drop.

    ONE scan: all per-column aggregates run in a single Aggregate (the
    multi-distinct is planned via Expand — one pass over the data,
    ×|distinct cols| row amplification map-side). At 100 TB swap exact
    COUNT(DISTINCT) for approx_count_distinct and the Expand disappears;
    exact is kept here because the oracle must agree bit-for-bit. The
    per-column rows are unpivoted with `stack`, never a driver loop of
    per-column jobs."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    for c in _PROFILE_NUM:
        aggs.append(F.round(F.min(c) + F.lit(0.0), 4).alias(f"mn_{c}"))
        aggs.append(F.round(F.max(c) + F.lit(0.0), 4).alias(f"mx_{c}"))
    for c in _PROFILE_STR:
        aggs.append(F.min(c).alias(f"mns_{c}"))
        aggs.append(F.max(c).alias(f"mxs_{c}"))
    one = table(spark, sf_dir, "orders").agg(*aggs)
    parts = []
    for c in _PROFILE_NUM:
        parts.append(
            f"'{c}', n, nulls_{c}, nd_{c}, mn_{c}, mx_{c}, "
            "CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for c in _PROFILE_STR:
        parts.append(
            f"'{c}', n, nulls_{c}, nd_{c}, CAST(NULL AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), mns_{c}, mxs_{c}"
        )
    return one.select(
        F.expr(
            f"stack({len(parts)}, {', '.join(parts)}) "
            "AS (col, n, nulls, n_distinct, min_num, max_num, min_str, max_str)"
        )
    )


# --- drift monitoring --------------------------------------------------------
@register(
    "drift_psi",
    oracle="""
    WITH s AS (
      SELECT least(CAST(floor(l_extendedprice / 10000) AS BIGINT), 9) AS bucket,
             CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                    AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS grp
      FROM lineitem
    ),
    c AS (
      SELECT bucket,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM s GROUP BY bucket
    ),
    t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM c)
    SELECT bucket,
           ROUND(n_ref * 1.0 / tr, 6) AS p_ref,
           ROUND(n_cur * 1.0 / tc, 6) AS p_cur,
           -- one-sided cell: ln of a zero ratio ERRORS in DuckDB where
           -- Spark ln(0) is NULL; the PSI term is undefined there, NULL
           -- on both engines (r9 edge batch)
           CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
                ELSE ROUND((n_cur * 1.0 / tc - n_ref * 1.0 / tr)
                     * ln((n_cur * 1.0 / tc) / (n_ref * 1.0 / tr))
                     * 10000, 4) + 0
           END AS psi_term_e4
    FROM c, t
    """,
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two deterministic hash-halves
    of the corpus, per fixed price bucket — the train/serve drift monitor
    run on every model-feeding pipeline (PSI < 0.1 stable, > 0.25 act).
    Here the halves are a hash split, so psi ≈ 0 IS the assertion: the
    split is unbiased.

    ONE scan: bucket + group are row-local, a single (bucket, grp)-keyed
    partial+final agg produces 10×2 cells, and the PSI algebra runs on
    that tiny table (broadcast totals). Never two passes over the corpus
    — the naive 'profile each side separately' formulation scans twice."""
    li = table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    grp = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 2
    ).alias("grp")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / 10_000).cast("bigint"), F.lit(9)
    ).alias("bucket")
    c = (
        li.select(bucket, grp)
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_cur"),
        )
    )
    # totals via an empty-frame window over the 10-row cell table: a
    # separate agg + crossJoin re-ran the corpus aggregation on both DAG
    # arms (4 Exchanges → 2, plan-pinned)
    wt = Window.partitionBy()
    c = c.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(wt).alias("tr"),
        F.sum("n_cur").over(wt).alias("tc"),
    )
    # degenerate parity (r9 edge batch): try_divide — an empty half
    # (tr or tc = 0, one-row fixture) threw ANSI DIVIDE_BY_ZERO where
    # DuckDB yields NULL. For a one-sided CELL, F.log of the zero (or
    # NULL) ratio is NULL, matching the oracle's explicit CASE around
    # DuckDB's erroring ln(0); real-SF cells are two-sided, so both are
    # semantic no-ops.
    pr = F.try_divide(F.col("n_ref"), F.col("tr"))
    pc = F.try_divide(F.col("n_cur"), F.col("tc"))
    return c.select(
        "bucket",
        F.round(pr, 6).alias("p_ref"),
        F.round(pc, 6).alias("p_cur"),
        (
            F.round((pc - pr) * F.log(F.try_divide(pc, pr)) * 10_000, 4)
            + F.lit(0)
        ).alias("psi_term_e4"),
    )


# --- marketing-style attribution ---------------------------------------------
@register(
    "events_attribution",
    oracle="""
    WITH t AS (
      SELECT event_id, event_type,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS) OVER w AS first_touch,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER w AS last_touch
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(first_touch, '(none)') AS first_touch,
           COALESCE(last_touch, '(none)') AS last_touch,
           COUNT(*) AS purchases
    FROM t WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution: for every purchase, which
    non-purchase event type opened the user's path and which one
    immediately preceded the conversion — the channel-credit query behind
    marketing spend allocation.

    ONE user-keyed sort window serves both touches (first_value and
    last_value with IGNORE NULLS over the same preceding frame share the
    sort/exchange); the purchase filter then reduces to a tiny rollup.
    No self-join of events to events — the window formulation is the one
    that survives 100 TB of clickstream."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    t = e.select(
        "event_type",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        t.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch", F.lit("(none)")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("(none)")).alias("last_touch"),
        )
        .agg(F.count(F.lit(1)).alias("purchases"))
    )


# --- lag-feature engineering -------------------------------------------------
@register(
    "events_lag_features",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value, 4) AS v,
           ROUND(LAG(value, 1) OVER w, 4) AS v_lag1,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS v_rollmean3,
           CAST(epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) AS BIGINT)
             AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal feature engineering for model training: per-user lag,
    trailing mean, and inter-event gap — the feature-store transform
    that turns raw event logs into training rows. The frame ends at
    1 PRECEDING, never CURRENT ROW: the rolling mean must not see the
    row being predicted (same leakage discipline as
    `features_pit_join`).

    ONE user-keyed sort serves all three features (lag, rolling mean,
    gap share the window spec), so the corpus shuffles once; output is
    row-per-event, ready to join against labels."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-3, -1)
    us = F.unix_micros("ts")
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("v"),
        F.round(F.lag("value", 1).over(w), 4).alias("v_lag1"),
        F.round(F.avg("value").over(wr), 4).alias("v_rollmean3"),
        (us - F.lag(us, 1).over(w)).cast("bigint").alias("us_since_prev"),
    )


# --- RFM segmentation --------------------------------------------------------
@register(
    "events_rfm_segmentation",
    oracle="""
    WITH rfm AS (
      -- integer cents (SURVEY §5.3 r2 rule): float sums/avgs diverge at
      -- round boundaries between engines
      SELECT user_id,
             date_diff('day', MAX(CASE WHEN event_type = 'purchase' THEN ts END),
                       TIMESTAMP '2024-02-01') AS recency_days,
             count_if(event_type = 'purchase') AS frequency,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS monetary_c
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, recency_days, frequency, monetary_c,
             ntile(3) OVER (ORDER BY recency_days ASC, user_id) AS r_seg,
             ntile(3) OVER (ORDER BY frequency DESC, user_id) AS f_seg,
             ntile(3) OVER (ORDER BY monetary_c DESC, user_id) AS m_seg
      FROM rfm WHERE frequency > 0
    )
    SELECT r_seg, f_seg, m_seg, COUNT(*) AS n_users,
           CAST((2 * SUM(monetary_c) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS avg_monetary_c
    FROM scored GROUP BY r_seg, f_seg, m_seg
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary terciles, the
    classic behavioral-cohort matrix (who to re-engage, who to protect).
    The corpus-scale work is ONE user-keyed agg; the three terciles then
    run over the user table (rows = users, not events). Even that table
    is billions of rows at scale, so the r2 global ntile windows are
    replaced (VERDICT r2 next-#3, closed) by
    ``functions.distributed.binned_exact_ntile`` — the in-plan binned
    global rank plus closed-form ntile arithmetic, exact tiles with no
    unpartitioned window (r12, VERDICT r11 next-#4: the sampler
    machinery ran a serial driver chain PER TERCILE — 3× sample +
    checkpoint + collect; the binned chain is ONE executed job, with
    each tercile's bounds from the helper's in-plan broadcast min/max
    arm over its derived metric); approx-quantile range cuts remain
    the cheaper swap when exact counts aren't required. Unique
    (metric, user_id) tiebreaks keep both engines' tiles identical."""
    e = table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    cents = F.round(F.col("value") * 100).cast("bigint")
    rfm = (
        e.groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-02-01").cast("timestamp"),
                F.max(F.when(is_p, F.col("ts"))),
            ).alias("recency_days"),
            F.count_if(is_p).alias("frequency"),
            F.sum(F.when(is_p, cents).otherwise(F.lit(0))).alias("monetary_c"),
        )
        .filter(F.col("frequency") > 0)
    )
    from ..functions.distributed import binned_exact_ntile

    # each tercile runs over a LEAN (user_id, metric) projection and
    # joins back on user_id: chaining the three ntiles instead nests
    # every level's offsets+bounds arms inside the next level's copies
    # (measured: a 304-Exchange static plan, 28 executed stages); the
    # lean branches keep each binned scan's arms demand-symmetric
    # (ReusedExchange per branch) and the static plan linear
    scored = rfm.select("user_id", "monetary_c")
    for out_col, lead, desc in [
        ("r_seg", "recency_days", False),
        ("f_seg", "frequency", True),
        ("m_seg", "monetary_c", True),
    ]:
        seg = binned_exact_ntile(
            rfm.select("user_id", lead), 3, lead, ["user_id"], out_col,
            desc=desc,
        ).select("user_id", out_col)
        scored = scored.join(seg, "user_id")
    scored = scored.select("monetary_c", "r_seg", "f_seg", "m_seg")
    return scored.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.expr(
            "CAST((2 * SUM(monetary_c) + COUNT(*)) DIV (2 * COUNT(*)) AS BIGINT)"
        ).alias("avg_monetary_c"),
    )


@register(
    "events_retention",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    u AS (
      SELECT user_id, MIN(d) AS cohort, list(d) AS ds FROM d GROUP BY user_id
    )
    SELECT CAST(cohort AS VARCHAR) AS cohort,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN list_contains(ds, cohort + 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
           CAST(SUM(CASE WHEN list_contains(ds, cohort + 7)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_d7,
           ROUND(SUM(CASE WHEN list_contains(ds, cohort + 1)
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS d1_rate,
           ROUND(SUM(CASE WHEN list_contains(ds, cohort + 7)
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS d7_rate
    FROM u GROUP BY cohort
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention table (ClickHouse `retention()` [P]): users
    grouped by first-seen day; for each cohort, how many came back on
    day 1 and day 7. Two aggregations but the second reuses the first's
    hash partitioning on `user_id` (Catalyst exchange reuse): the
    per-user day set is `collect_set` of calendar DATEs — bounded by the
    retention horizon (≤ ~30 here, ≤ 90 under the flows TTL [P §2.1]),
    never by event count, so the aggregation buffer is O(days) per user
    at any corpus scale. Day flags are then `array_contains` lookups —
    no self-join of events against events, which is the naive (and at
    100 TB unrunnable) formulation of retention."""
    e = table(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    u = d.groupBy("user_id").agg(
        F.min("d").alias("cohort"), F.collect_set("d").alias("ds")
    )
    d1 = F.when(
        F.array_contains("ds", F.date_add(F.col("cohort"), 1)), 1
    ).otherwise(0)
    d7 = F.when(
        F.array_contains("ds", F.date_add(F.col("cohort"), 7)), 1
    ).otherwise(0)
    # cohort rendered as an ISO string: DATE round-trips through the two
    # engines' pandas bridges differently (date vs midnight timestamp)
    return u.groupBy(F.col("cohort").cast("string").alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(d1).alias("n_d1"),
        F.sum(d7).alias("n_d7"),
        F.round(F.sum(d1) * 1.0 / F.count(F.lit(1)), 4).alias("d1_rate"),
        F.round(F.sum(d7) * 1.0 / F.count(F.lit(1)), 4).alias("d7_rate"),
    )


@register(
    "events_sequence_match",
    oracle="""
    WITH s AS (
      SELECT user_id, COUNT(*) AS n_events,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CASE WHEN regexp_matches(seq, 's.*c.*p')
                THEN 1 ELSE 0 END AS matched
    FROM s
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-pattern match over each user's event stream (ClickHouse
    `sequenceMatch('(?1).*(?2).*(?3)')` [P]): did signup → click →
    purchase happen in time order? The per-user stream is materialized
    as a compact type-initial string ('scvpe…') via
    `array_sort(collect_list(struct(ts_us, event_id, type)))` — struct
    sort gives (time, unique-id) ordering with no window shuffle — and
    the pattern is one `rlike` over that string, so arbitrary regex
    sequences (not just subsequence-exists, which a conditional-min
    funnel can answer) run in the same single-shuffle plan. Timestamps
    compare as `unix_micros` and carry the `event_id` tiebreaker
    (SURVEY §5.3.2-3). Per-user payload is O(events-per-user) — fine
    for interactive streams; for adversarially hot keys, pre-cap with a
    per-user `row_number` limit before collecting."""
    e = table(spark, sf_dir, "events")
    evs = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    s = e.groupBy("user_id").agg(evs.alias("evs"))
    seq = F.concat_ws("", F.transform("evs", lambda x: x["c"]))
    return s.select(
        "user_id",
        F.size("evs").cast("long").alias("n_events"),
        F.when(seq.rlike("s.*c.*p"), 1).otherwise(0).alias("matched"),
    )


@register(
    "events_path_ngrams",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS seq
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT substr(seq, i, 3) AS path
      FROM (SELECT seq FROM s WHERE len(seq) >= 3),
           UNNEST(generate_series(1, len(seq) - 2)) AS t(i)
    )
    SELECT path, COUNT(*) AS n
    FROM g GROUP BY path
    ORDER BY n DESC, path LIMIT 5
    """,
)
def events_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-common 3-step behavioral paths across all user streams —
    the 'what do users do next' query behind path-flow dashboards.
    Reuses the sequence-string trick (`events_sequence_match`): per-user
    ordered type string, sliding 3-grams via a `transform(sequence(…))`
    HOF (array allocation is per-user-stream, not per-corpus), explode,
    count, keyed top-5. Two shuffles (per-user collect, trigram count) +
    a `TakeOrderedAndProject` — no window over the global trigram set.
    The top-5 order carries the `path` tiebreaker so the result set is
    deterministic (SURVEY §5.3.4)."""
    e = table(spark, sf_dir, "events")
    evs = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    s = e.groupBy("user_id").agg(evs.alias("evs")).select(
        F.concat_ws("", F.transform("evs", lambda x: x["c"])).alias("seq")
    )
    # explicit len >= 3 guard: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0] (not empty like generate_series), so short streams must be
    # filtered out, not clamped
    g = s.filter(F.length("seq") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(seq) - 2),"
                " i -> substring(seq, i, 3))"
            )
        ).alias("path")
    )
    return (
        g.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(5)
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH dau AS (
      SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY day
    ),
    wau AS (
      SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
      FROM (SELECT DISTINCT date_trunc('day', ts) AS day FROM events) d
      JOIN events e
        ON date_trunc('day', e.ts) > d.day - INTERVAL 7 DAY
       AND date_trunc('day', e.ts) <= d.day
      GROUP BY d.day
    )
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(dau.dau * 1.0 / wau.wau, 4) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the front-page
    product metric. The WAU side is a (distinct day) × events range join
    on the day key: the build side is |days| rows (broadcast), and each
    event lands in ≤ 7 day-windows, so the expansion is bounded ×7 — a
    per-day distinct state, never an all-pairs product. The exact
    distinct is two-phase; at 100 TB swap in HLL partials merged across
    the 7-day frame."""
    e = table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    dau = e.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    days = e.select("day").distinct().withColumnRenamed("day", "d")
    wau = (
        e.join(
            F.broadcast(days),
            (F.col("day") > F.col("d") - F.expr("INTERVAL 7 DAYS"))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("d", "day")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
    )


@register(
    "events_markov_transition",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
               AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 4) AS p
    FROM c
    """,
)
def events_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: P(next event type |
    current) per user stream (the input to next-action prediction and
    anomaly scoring over flows/event logs). One lead window per user,
    then a |types|²-row aggregate; the probability normalization runs on
    the aggregated matrix, not the raw stream. Ordered by the unique
    event_id so the chain is engine-deterministic."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("p"),
    )


#: inactivity gap that closes a session (the classic 30-minute rule)
_GAP_S = 1800
#: windowFunnel conversion window
_FUNNEL_W_S = 3600


@register(
    "events_sessionize_gap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id,
             epoch(date_trunc('second', ts))::BIGINT AS t
      FROM events
    ),
    g AS (
      SELECT user_id, event_id, t,
             CASE WHEN t - LAG(t) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id) > {_GAP_S}
                  OR LAG(t) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    s AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    per AS (
      SELECT user_id, sid, COUNT(*) AS n_ev, MAX(t) - MIN(t) AS span_s
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(SUM(span_s) AS BIGINT) AS active_s,
           CAST(MAX(n_ev) AS BIGINT) AS max_session_events
    FROM per GROUP BY user_id
    """,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a session ends after 30 min of user
    inactivity; report per-user session counts, total active span, and
    the largest session. This is the batch twin of the streaming
    `win_session` / `stream_session_window` keys — same semantics, but
    as a reprocessable window cascade over the at-rest table.

    Scale shape: both windows and the two aggregations ride ONE
    user-keyed exchange (same partition spec throughout — Catalyst
    stacks them on a single sort); per-user streams are short and
    plentiful, the healthy case for Window.partitionBy. All-integer
    epoch-second arithmetic, so the hash gate is exact."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    g = e.withColumn(
        "new_s",
        F.when(
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > _GAP_S),
            1,
        ).otherwise(0),
    )
    s = g.withColumn("sid", F.sum("new_s").over(run))
    per = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("t") - F.min("t")).alias("span_s"),
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.sum("span_s").cast("bigint").alias("active_s"),
        F.max("n_ev").cast("bigint").alias("max_session_events"),
    )


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch(date_trunc('second', ts))::BIGINT AS t
      FROM events
    ),
    s1 AS (SELECT user_id, t FROM e WHERE event_type = 'signup'),
    u2 AS (
      SELECT DISTINCT c.user_id
      FROM e c JOIN s1 ON c.user_id = s1.user_id
      WHERE c.event_type = 'click' AND c.t >= s1.t
        AND c.t - s1.t <= {_FUNNEL_W_S}
    ),
    u3 AS (
      SELECT DISTINCT p.user_id
      FROM e p
      JOIN e c ON p.user_id = c.user_id AND c.event_type = 'click'
             AND p.event_type = 'purchase' AND p.t >= c.t
      JOIN s1 ON s1.user_id = p.user_id AND c.t >= s1.t
             AND p.t - s1.t <= {_FUNNEL_W_S}
    ),
    d AS (
      SELECT u.user_id,
             CASE WHEN u.user_id IN (SELECT user_id FROM u3) THEN 3
                  WHEN u.user_id IN (SELECT user_id FROM u2) THEN 2
                  WHEN u.user_id IN (SELECT DISTINCT user_id FROM s1) THEN 1
                  ELSE 0 END AS depth
      FROM (SELECT DISTINCT user_id FROM e) u
    )
    SELECT CAST(depth AS INT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY depth
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(3600)`` parity: per user, the deepest
    signup → click → purchase chain whose FULL span fits in one hour of
    the chain's first step; report users per depth. `events_funnel` is
    the unwindowed order-only form — the time constraint is what makes
    this the conversion metric product teams actually track [P].

    Scale shape: a LINEAR per-user scan, not the per-step self-join a
    naive formulation uses (the oracle deliberately IS that independent
    join formulation — two different algorithms must agree). One
    user-keyed sort window; each step's state is a running max: the
    latest signup so far, then the latest still-in-window signup
    reachable through a click (greedy-latest start is optimal because
    the only global constraint is span ≤ W — a later valid start only
    loosens the remaining budget). depth = max step with non-null
    state at any row of the matching type."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    last_s1 = F.max(F.when(F.col("event_type") == "signup", F.col("t"))).over(w)
    st = e.withColumn(
        "start2",
        F.when(
            (F.col("event_type") == "click")
            & (F.col("t") - last_s1 <= _FUNNEL_W_S),
            last_s1,
        ),
    )
    best2 = F.max("start2").over(w)
    st = st.withColumn(
        "hit3",
        (F.col("event_type") == "purchase")
        & (F.col("t") - best2 <= _FUNNEL_W_S),
    ).withColumn("hit1", F.col("event_type") == "signup")
    per = st.groupBy("user_id").agg(
        F.max(
            F.when(F.col("hit3"), 3)
            .when(F.col("start2").isNotNull(), 2)
            .when(F.col("hit1"), 1)
            .otherwise(0)
        ).alias("depth")
    )
    return per.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@register(
    "data_quality_rules",
    oracle="""
    WITH o AS (
      -- COALESCE(count_if, 0): DuckDB count_if over zero rows is NULL
      -- where Spark's is 0 — an empty table truthfully has 0
      -- violations (r7 class-2 convention, applied r9 per SURVEY §17.1)
      SELECT 'orders_totalprice_positive' AS rule,
             COUNT(*) AS n_checked,
             COALESCE(count_if(o_totalprice <= 0), 0) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders_status_domain', COUNT(*),
             COALESCE(count_if(o_orderstatus NOT IN ('O', 'F', 'P')), 0)
      FROM orders
      UNION ALL
      SELECT 'lineitem_discount_range', COUNT(*),
             COALESCE(count_if(l_discount < 0 OR l_discount > 1), 0)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_pk_unique', COUNT(*),
             COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_fk_orders', COUNT(*),
             COALESCE(count_if(o.o_orderkey IS NULL), 0)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'ship_after_order_date',
             COALESCE(count_if(o.o_orderkey IS NOT NULL), 0),
             COALESCE(count_if(l.l_shipdate < o.o_orderdate), 0)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders_fk_customer', COUNT(*),
             COALESCE(count_if(c.c_custkey IS NULL), 0)
      FROM orders r LEFT JOIN customer c ON r.o_custkey = c.c_custkey
    )
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(10000 * n_violations // GREATEST(n_checked, 1) AS BIGINT)
             AS viol_bp
    FROM o
    """,
)
def data_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report (the Deequ / dbt-tests shape [P]):
    seven rules — domain, range, PK uniqueness, two FK referential
    checks, and a cross-table date-sanity predicate — each reporting
    (checked, violations, basis points). The contract of a DQ gate is
    that it runs CHEAPLY over the whole corpus on every load.

    Scale shape: single-table rules share one scan per table (one
    multi-aggregate each, no per-rule job loop — the `data_profile`
    discipline); the FK and date rules are two key-joins Catalyst is
    free to broadcast/AQE. Row counts are exact integers — hash-stable
    by construction."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")

    def row(rule, n_checked, n_viol):
        return F.struct(
            F.lit(rule).alias("rule"),
            n_checked.cast("bigint").alias("n_checked"),
            n_viol.cast("bigint").alias("n_violations"),
        )

    orders_rules = o.agg(
        F.array(
            row(
                "orders_totalprice_positive",
                F.count(F.lit(1)),
                F.count_if(F.col("o_totalprice") <= 0),
            ),
            row(
                "orders_status_domain",
                F.count(F.lit(1)),
                F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")),
            ),
        ).alias("rs")
    )
    li_rules = li.agg(
        F.array(
            row(
                "lineitem_discount_range",
                F.count(F.lit(1)),
                F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
            ),
            row(
                "lineitem_pk_unique",
                F.count(F.lit(1)),
                F.count(F.lit(1))
                - F.countDistinct("l_orderkey", "l_linenumber"),
            ),
        ).alias("rs")
    )
    lo = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == o.o_orderkey,
        "left",
    )
    fk_rules = lo.agg(
        F.array(
            row(
                "lineitem_fk_orders",
                F.count(F.lit(1)),
                F.count_if(F.col("o_orderkey").isNull()),
            ),
            row(
                "ship_after_order_date",
                F.count_if(F.col("o_orderkey").isNotNull()),
                F.count_if(F.col("l_shipdate") < F.col("o_orderdate")),
            ),
        ).alias("rs")
    )
    oc = o.select("o_custkey").join(
        c.select("c_custkey"), o.o_custkey == c.c_custkey, "left"
    )
    oc_rules = oc.agg(
        F.array(
            row(
                "orders_fk_customer",
                F.count(F.lit(1)),
                F.count_if(F.col("c_custkey").isNull()),
            )
        ).alias("rs")
    )
    all_rules = (
        orders_rules.unionAll(li_rules).unionAll(fk_rules).unionAll(oc_rules)
        .select(F.explode("rs").alias("r"))
        .select("r.rule", "r.n_checked", "r.n_violations")
    )
    return all_rules.select(
        "rule",
        "n_checked",
        "n_violations",
        F.expr(
            "CAST(10000 * n_violations DIV GREATEST(n_checked, 1L) AS BIGINT)"
        ).alias("viol_bp"),
    )


@register(
    "events_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*)::BIGINT AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    u AS (
      SELECT user_id, SUM(cnt) AS n, COUNT(*) AS k,
             SUM(cnt * ln(cnt)) AS slc
      FROM c GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(k AS BIGINT) AS n_types,
           ROUND(ln(n) - slc / n, 4) + 0 AS entropy_r
    FROM u
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the action-type distribution — the
    behavioral-diversity feature (bots and single-purpose accounts sit
    near 0; engaged users near ln(k)). Corpus-level `agg_entropy` is
    the same identity H = ln(n) − Σc·ln(c)/n without the per-key
    grouping; the identity needs only (count, Σ c·ln c) partials, so
    the whole key is two partial+final aggs on the user key — one
    shuffle, no window. ROUND(x,4)+0 per the −0.0 discipline."""
    e = table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    u = c.groupBy("user_id").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("cnt") * F.log("cnt")).alias("slc"),
    )
    return u.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("k").cast("bigint").alias("n_types"),
        (F.round(F.log("n") - F.col("slc") / F.col("n"), 4) + 0).alias(
            "entropy_r"
        ),
    )


_MULT = 2654435761
_SPLIT = "2024-01-16"  # pre-period before, post-period from this day (fixture spans January)


@register(
    "events_cuped_adjust",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             (user_id * {_MULT}) % 4294967296 % 2 AS arm,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '{_SPLIT}'
                      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
               AS pre_c,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{_SPLIT}'
                      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
               AS post_c
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(pre_c) AS sx, SUM(post_c) AS sy,
             SUM(CAST(pre_c AS HUGEINT) * CAST(pre_c AS HUGEINT)) AS sxx,
             SUM(CAST(pre_c AS HUGEINT) * CAST(post_c AS HUGEINT)) AS sxy,
             SUM(CAST(post_c AS HUGEINT) * CAST(post_c AS HUGEINT)) AS syy
      FROM u
    ),
    th AS (
      SELECT n, sx, sy,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS var_post,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS cov_xy,
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS var_pre
      FROM m
    ),
    arm AS (
      SELECT u.arm, COUNT(*) AS n_users,
             SUM(u.post_c) AS a_sy, SUM(u.pre_c) AS a_sx
      FROM u GROUP BY u.arm
    )
    SELECT CAST(a.arm AS INT) AS arm,
           CAST(a.n_users AS BIGINT) AS n_users,
           ROUND(CAST(a.a_sy AS DOUBLE) / a.n_users / 100, 4) + 0
             AS mean_post,
           ROUND((CAST(a.a_sy AS DOUBLE) / a.n_users
                  - t.theta * (CAST(a.a_sx AS DOUBLE) / a.n_users
                               - CAST(t.sx AS DOUBLE) / t.n)) / 100, 4) + 0
             AS mean_cuped,
           ROUND(t.theta, 4) + 0 AS theta_r,
           CAST(ROUND(10000 * (t.cov_xy * t.cov_xy)
                      / (t.var_pre * t.var_post)) AS BIGINT)
             AS var_reduction_bp
    FROM arm a, th t
    """,
)
def events_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED adjustment of the post-period revenue metric using each
    user's PRE-period revenue as the covariate [P — Deng et al. 2013]:
    θ = cov(pre, post)/var(pre) pooled over all users, adjusted mean
    per arm = mean(post) − θ·(mean_arm(pre) − mean(pre)). The variance
    reduction factor ρ² = cov²/(var_pre·var_post) says how much
    experiment runtime the covariate buys (ρ² = 0.3 ⇒ 30% fewer
    samples for the same power).

    Scale shape: ONE user-keyed agg builds (pre, post) in exact integer
    cents; all five moments (Σx, Σy, Σx², Σxy, Σy²) come from one more
    partial+final agg as exact integers (decimal38/HUGEINT), so θ is a
    pure function of integers — no float summation order to drift
    cross-engine by construction. Per-arm means are one 2-row agg; the
    1-row θ frame broadcasts onto it."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    split = F.lit(_SPLIT).cast("date")
    u = (
        e.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.to_date("ts") < split, cents).otherwise(0)).alias(
                "pre_c"
            ),
            F.sum(
                F.when(F.to_date("ts") >= split, cents).otherwise(0)
            ).alias("post_c"),
        )
        .withColumn(
            "arm", (F.col("user_id") * F.lit(_MULT)) % F.lit(4294967296) % 2
        )
    )
    d19 = "decimal(19,0)"
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").alias("sx"),
        F.sum("post_c").alias("sy"),
        F.sum(F.col("pre_c").cast(d19) * F.col("pre_c").cast(d19)).alias("sxx"),
        F.sum(F.col("pre_c").cast(d19) * F.col("post_c").cast(d19)).alias("sxy"),
        F.sum(F.col("post_c").cast(d19) * F.col("post_c").cast(d19)).alias("syy"),
    )
    # try_divide throughout (r9 edge batch, SURVEY §17.1): the θ
    # denominator degenerates on a constant pre-period (constk) and nd
    # is 0 over an empty user table — the broadcast side is ALWAYS
    # evaluated even when the arm side is empty, so ANSI DIVIDE_BY_ZERO
    # threw where the DuckDB oracle yields NULL. Division order (… / nd
    # / nd, sequential) is preserved exactly for float parity.
    nd = F.col("n").cast("double")
    theta = F.try_divide(
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double"),
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
    )
    cov_xy = F.try_divide(
        F.try_divide(
            nd * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double"),
            nd,
        ),
        nd,
    )
    var_pre = F.try_divide(
        F.try_divide(
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double"),
            nd,
        ),
        nd,
    )
    var_post = F.try_divide(
        F.try_divide(
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double"),
            nd,
        ),
        nd,
    )
    th = m.select(
        "n",
        "sx",
        theta.alias("theta"),
        cov_xy.alias("cov_xy"),
        var_pre.alias("var_pre"),
        var_post.alias("var_post"),
    )
    arm = u.groupBy(F.col("arm").cast("int").alias("arm")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("post_c").alias("a_sy"),
        F.sum("pre_c").alias("a_sx"),
    )
    j = arm.crossJoin(F.broadcast(th))
    return j.select(
        "arm",
        F.col("n_users").cast("bigint").alias("n_users"),
        (
            F.round(F.col("a_sy").cast("double") / F.col("n_users") / 100, 4)
            + 0
        ).alias("mean_post"),
        (
            F.round(
                (
                    F.col("a_sy").cast("double") / F.col("n_users")
                    - F.col("theta")
                    * (
                        F.col("a_sx").cast("double") / F.col("n_users")
                        - F.col("sx").cast("double") / F.col("n")
                    )
                )
                / 100,
                4,
            )
            + 0
        ).alias("mean_cuped"),
        (F.round("theta", 4) + 0).alias("theta_r"),
        F.round(
            F.try_divide(
                10000 * (F.col("cov_xy") * F.col("cov_xy")),
                F.col("var_pre") * F.col("var_post"),
            )
        )
        .cast("bigint")
        .alias("var_reduction_bp"),
    )


@register(
    "data_freshness_sla",
    oracle="""
    WITH w AS (
      SELECT MAX(epoch(date_trunc('second', ts))::BIGINT) AS wm FROM events
    ),
    s AS (
      SELECT event_type,
             MAX(epoch(date_trunc('second', ts))::BIGINT) AS last_s,
             COUNT(*) AS n_total,
             count_if(epoch(date_trunc('second', ts)) >= w.wm - 86400)
               AS n_last_day
      FROM events, w GROUP BY event_type, w.wm
    )
    SELECT s.event_type,
           CAST(w.wm - s.last_s AS BIGINT) AS lag_s,
           CAST(s.n_total AS BIGINT) AS n_total,
           CAST(s.n_last_day AS BIGINT) AS n_last_day,
           w.wm - s.last_s > 3600 AS breach_1h,
           w.wm - s.last_s > 86400 AS breach_1d
    FROM s, w
    """,
)
def data_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness against the corpus watermark (the max event
    time — comparing to wall-clock would be nondeterministic AND wrong
    for replays): how stale is each event stream, how much of its
    volume arrived in the watermark's trailing day, and which SLA
    thresholds are breached. This is the ops gate that catches a dead
    exporter before the dashboards silently flatten — the batch analog
    of `stream_progress_metrics`' lag telemetry.

    Scale shape: one 1-row watermark agg broadcast into one per-stream
    agg (the trailing-day count rides the same shuffle); all-integer
    epoch-second arithmetic."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("t"),
    )
    wm = e.agg(F.max("t").alias("wm"))
    s = (
        e.crossJoin(F.broadcast(wm))
        .groupBy("event_type", "wm")
        .agg(
            F.max("t").alias("last_s"),
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(F.col("t") >= F.col("wm") - 86400).alias("n_last_day"),
        )
    )
    return s.select(
        "event_type",
        (F.col("wm") - F.col("last_s")).cast("bigint").alias("lag_s"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_last_day").cast("bigint").alias("n_last_day"),
        (F.col("wm") - F.col("last_s") > 3600).alias("breach_1h"),
        (F.col("wm") - F.col("last_s") > 86400).alias("breach_1d"),
    )


@register(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lagged AS (
      SELECT *,
             LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1,
             LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS p7
      FROM daily
    ),
    ev AS (
      SELECT event_type, n, p1, p7 FROM lagged
      WHERE p1 IS NOT NULL AND p7 IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)            AS n_eval,
           CAST(SUM(ABS(n - p1)) AS BIGINT)    AS abs_err_naive,
           CAST(SUM(ABS(n - p7)) AS BIGINT)    AS abs_err_snaive,
           CAST(SUM((ABS(n - p1) * 10000) // n) AS BIGINT)
                                               AS mape_naive_e4_sum,
           CAST(SUM((ABS(n - p7) * 10000) // n) AS BIGINT)
                                               AS mape_snaive_e4_sum
    FROM ev GROUP BY event_type
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the two canonical baseline
    forecasters on per-type daily volumes: naive (yesterday's value)
    vs seasonal-naive (same weekday last week). Every forecasting
    model — including `ts_holt_winters` — is judged against these
    baselines; a model that can't beat seasonal-naive on MAE/MAPE is
    noise. Evaluation is the standard rolling origin: each day is
    predicted from strictly prior data only (the `features_pit_join`
    leakage discipline applied to time).

    Corpus-sized work is the ONE (type, day) aggregation; both lag
    forecasts ride a single per-type sort window on the tiny day
    table; errors accumulate as exact integers (per-day MAPE terms via
    integer DIV) — no float summation anywhere."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    ev = (
        daily.withColumn("p1", F.lag("n", 1).over(w))
        .withColumn("p7", F.lag("n", 7).over(w))
        .filter(F.col("p1").isNotNull() & F.col("p7").isNotNull())
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(F.abs(F.col("n") - F.col("p1"))).alias("abs_err_naive"),
        F.sum(F.abs(F.col("n") - F.col("p7"))).alias("abs_err_snaive"),
        F.sum(
            F.expr("(ABS(n - p1) * 10000) DIV n")
        ).alias("mape_naive_e4_sum"),
        F.sum(
            F.expr("(ABS(n - p7) * 10000) DIV n")
        ).alias("mape_snaive_e4_sum"),
    )


# ---------------------------------------------------------------------------
# events_power_analysis
# ---------------------------------------------------------------------------
_Z_SUM = 2.801585  # z_{alpha/2}=1.959964 (5% two-sided) + z_beta=0.841621 (80%)


@register(
    "events_power_analysis",
    oracle=f"""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n, AVG(value) AS mean,
             var_samp(value) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(mean, 4) AS mean,
           ROUND(v, 4) AS variance,
           CAST(FLOOR(10000 * {_Z_SUM} * sqrt(2 * v / n) / mean) AS BIGINT)
             AS mde_rel_e4,
           CAST(FLOOR(2 * v * {_Z_SUM} * {_Z_SUM}
                      / pow(0.02 * mean, 2)) AS BIGINT) + 1
             AS n_per_arm_2pct
    FROM m
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment design report per metric (event_type): the minimum
    detectable RELATIVE effect at current per-arm traffic n, and the
    per-arm sample size required to detect a 2% lift — both at the
    canonical alpha=0.05 two-sided / 80% power operating point
    (n = 2 sigma^2 (z_a + z_b)^2 / delta^2 [P — standard two-sample
    power formula]). This is the experimentation family's missing first
    step (`stats_chi2_srm` -> `events_cuped_adjust` -> `agg_welch_ttest`
    -> `events_did_estimator` judge a RUNNING experiment; this decides
    whether one is worth running). One grouped moment pass over the
    fact table — the whole report costs one aggregation; outputs follow
    the `agg_welch_ttest` discipline (round(.,4); integer releases
    floored, where ulp noise cannot flip a decision)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mean"),
        F.var_samp("value").alias("v"),
    )
    mde = 10000 * _Z_SUM * F.sqrt(2 * F.col("v") / F.col("n")) / F.col("mean")
    n_req = 2 * F.col("v") * _Z_SUM * _Z_SUM / F.pow(0.02 * F.col("mean"), 2)
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("mean", 4).alias("mean"),
        F.round("v", 4).alias("variance"),
        F.floor(mde).cast("bigint").alias("mde_rel_e4"),
        (F.floor(n_req).cast("bigint") + 1).alias("n_per_arm_2pct"),
    )


# ---------------------------------------------------------------------------
# events_association_rules
# ---------------------------------------------------------------------------
@register(
    "events_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM baskets),
    singles AS (
      SELECT event_type, COUNT(*) AS n FROM baskets GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS n_both
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.ante, p.cons,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(p.n_both * 1000000 // nu.n_users AS BIGINT) AS support_e6,
           CAST(p.n_both * 1000000 // sa.n AS BIGINT) AS confidence_e6,
           CAST(CAST(p.n_both AS HUGEINT) * nu.n_users * 1000000
                // (CAST(sa.n AS HUGEINT) * sc.n) AS BIGINT) AS lift_e6
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.ante
    JOIN singles sc ON sc.event_type = p.cons
    CROSS JOIN nu
    WHERE p.n_both * 100 >= nu.n_users  -- min support 1%
    """,
)
def events_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over per-user event-type baskets
    [P — the pair level of Apriori]: support, confidence and lift in
    exact e6 integers, min-support 1%. 'Users who do X also do Y' —
    the recommendation/cross-sell primitive, and lift is the number
    that separates real affinity from popularity (lift≈1e6 means
    independent).

    Scale shape: baskets are (user, item) DISTINCT rows (one shuffle);
    the per-user item set is BOUNDED by the event-type vocabulary, so
    pair generation is a row-local explode of collect_set combinations
    — never a data-sized self-join; the pair aggregation and two tiny
    singles joins (broadcast) finish it. With an unbounded item
    vocabulary you'd cap per-basket arity first (the standard guard)."""
    e = table(spark, sf_dir, "events")
    # three consumers (user total, singles, per-user sets) — checkpoint
    # the basket distinct so it shuffles once
    # a NULL user owns no basket and a NULL item names nothing
    # (nullmix fold, §17.1(b)): filtered two-sided — the oracle's
    # equi-self-join drops NULL users (NULL = NULL is NULL) and its
    # COUNT(DISTINCT) drops NULL, where Spark's groupBy/distinct keep
    # a NULL group
    baskets = (
        e.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nu = baskets.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    singles = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sets = baskets.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("items")
    )
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (a, i) ->"
                    " transform(slice(items, i + 2,"
                    "                 greatest(size(items) - i - 1, 0)),"
                    " b -> struct(a AS ante, b AS cons))))"
                )
            ).alias("pr")
        )
        .select("pr.*")
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("ante"), F.col("n").alias("na"))
    sc = singles.select(F.col("event_type").alias("cons"), F.col("n").alias("nc"))
    return (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sc), "cons")
        .crossJoin(F.broadcast(nu))
        .filter(F.col("n_both") * 100 >= F.col("n_users"))
        .select(
            "ante",
            "cons",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr("CAST(n_both * 1000000 DIV n_users AS BIGINT)").alias(
                "support_e6"
            ),
            F.expr("CAST(n_both * 1000000 DIV na AS BIGINT)").alias(
                "confidence_e6"
            ),
            # decimal(38,0)/HUGEINT lift numerator (r10 class audit, the
            # r9 hurst convention): n_both·n_users·1e6 ~ users²·1e6
            # crossed int64 past ~3e6 users on both engines (and na·nc
            # past ~3e9); support/confidence terms are 1e6·count —
            # representable to ~9e12 users, left on the int64 path
            F.expr(
                "CAST(CAST(n_both AS DECIMAL(38,0)) * n_users * 1000000"
                " DIV (CAST(na AS DECIMAL(38,0)) * nc) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )


# ---------------------------------------------------------------------------
# events_interarrival_stats
# ---------------------------------------------------------------------------
@register(
    "events_interarrival_stats",
    oracle="""
    WITH o AS (
      SELECT event_type, user_id, epoch_us(ts) AS t,
             LAG(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events
    ),
    gaps AS (
      SELECT event_type, t - prev AS gap_us FROM o WHERE prev IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(AVG(gap_us) / 1e6, 4) AS mean_gap_s,
           ROUND(quantile_cont(gap_us, 0.5) / 1e6, 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_us, 0.9) / 1e6, 4) AS p90_gap_s,
           ROUND(MIN(gap_us) / 1e6, 4) AS min_gap_s,
           ROUND(MAX(gap_us) / 1e6, 4) AS max_gap_s
    FROM gaps GROUP BY event_type ORDER BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type: per (type, user)
    stream ordered by (ts, event_id), the gap to the previous event,
    then the gap distribution (mean / exact p50 / p90 / min / max).
    Bursty arrivals (p50 ≪ mean) are the burstiness signal behind rate
    limiting, bot detection and capacity planning; pairs with
    `flows_beaconing_detection`, which looks for the OPPOSITE
    (machine-regular gaps).

    The lag window and the final aggregate both key on event_type (the
    window sub-partitions by user inside it), so the gap computation
    and the rollup share one data-sized hash exchange. Gaps are
    MICROSECOND integers (`unix_micros` / `epoch_us`) — the fixture
    timestamps carry sub-second precision, and second-truncating
    `unix_timestamp`/`epoch` would disagree between engines on every
    gap that crosses a second boundary."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    gaps = (
        ev.select("event_type", (t - F.lag(t).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(F.avg("gap_us") / 1e6, 4).alias("mean_gap_s"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 4).alias("p50_gap_s"),
            F.round(F.expr("percentile(gap_us, 0.9)") / 1e6, 4).alias("p90_gap_s"),
            F.round(F.min("gap_us") / 1e6, 4).alias("min_gap_s"),
            F.round(F.max("gap_us") / 1e6, 4).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_frequency_capping
# ---------------------------------------------------------------------------
@register(
    "events_frequency_capping",
    oracle="""
    WITH exp AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, user_id,
             COUNT(*) AS c
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(c) AS BIGINT) AS n_exposures,
           CAST(count_if(c > 5) AS BIGINT) AS n_users_over_cap,
           CAST(SUM(GREATEST(c - 5, 0)) AS BIGINT) AS n_capped_exposures,
           CAST(10000 * SUM(GREATEST(c - 5, 0)) // SUM(c) AS BIGINT)
             AS waste_bp
    FROM exp GROUP BY day ORDER BY day
    """,
)
def events_frequency_capping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-capping report: per day, how many 'view' exposures a
    cap of 5 per user would have suppressed — users over cap, capped
    exposure count, and the waste share in basis points. The standard
    ads/notification-fatigue analysis that decides cap policy before
    enforcement moves to the serving layer.

    One (day, user) rollup then a day rollup — two bounded exchanges,
    all-integer arithmetic end to end (the waste share uses integer
    basis-point division, no float comparison anywhere)."""
    exp = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.col("c")
    return (
        exp.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(c).cast("bigint").alias("n_exposures"),
            F.count_if(c > 5).cast("bigint").alias("n_users_over_cap"),
            F.sum(F.greatest(c - 5, F.lit(0))).cast("bigint").alias(
                "n_capped_exposures"
            ),
            F.expr("10000 * SUM(GREATEST(c - 5, 0)) DIV SUM(c)")
            .cast("bigint")
            .alias("waste_bp"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# events_time_to_convert
# ---------------------------------------------------------------------------
@register(
    "events_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_buy
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT (first_buy - first_view) / 3600e6 AS hours
      FROM firsts
      WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        AND first_buy >= first_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(AVG(hours), 4) AS mean_h,
           ROUND(quantile_cont(hours, 0.5), 4) AS p50_h,
           ROUND(quantile_cont(hours, 0.9), 4) AS p90_h,
           ROUND(MIN(hours), 4) AS min_h,
           ROUND(MAX(hours), 4) AS max_h
    FROM conv
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: per user, time from FIRST view to FIRST
    purchase (users whose first purchase precedes any view are
    excluded — they converted through another door), summarized as
    mean / exact p50 / p90 / min / max hours. The funnel-latency
    number product teams steer by; complements `events_funnel`
    (conversion RATE) and `events_survival_km` (censoring-aware form).

    ONE user-keyed conditional-MIN aggregate computes both touchpoints
    (no per-type self-join); the latency distribution is a 1-row
    summary over the converted-user table. Microsecond integers until
    the final hours division (`events_interarrival_stats` lesson)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("first_buy"),
    )
    conv = (
        firsts.filter(
            F.col("first_view").isNotNull()
            & F.col("first_buy").isNotNull()
            & (F.col("first_buy") >= F.col("first_view"))
        )
        .select(
            ((F.col("first_buy") - F.col("first_view")) / F.lit(3600e6)).alias(
                "hours"
            )
        )
    )
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.avg("hours"), 4).alias("mean_h"),
        F.round(F.expr("percentile(hours, 0.5)"), 4).alias("p50_h"),
        F.round(F.expr("percentile(hours, 0.9)"), 4).alias("p90_h"),
        F.round(F.min("hours"), 4).alias("min_h"),
        F.round(F.max("hours"), 4).alias("max_h"),
    )


# ---------------------------------------------------------------------------
# events_heatmap_hour_dow
# ---------------------------------------------------------------------------
@register(
    "events_heatmap_hour_dow",
    oracle="""
    WITH c AS (
      SELECT dayofweek(ts) + 1 AS dow,  -- DuckDB 0=Sun -> Spark 1=Sun
             EXTRACT(hour FROM ts) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS nn FROM c)
    SELECT CAST(dow AS INT) AS dow, CAST(hour AS INT) AS hour,
           CAST(n AS BIGINT) AS n,
           CAST(10000 * n // tot.nn AS BIGINT) AS share_bp
    FROM c CROSS JOIN tot ORDER BY dow, hour
    """,
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hour × day-of-week activity heatmap — the operations
    dashboard that shows weekly seasonality at a glance (pairs with
    `agg_weekday_seasonality`'s one-dimensional form and
    `agg_circular_stats`' circular mean). Cell shares in integer basis
    points.

    One (dow, hour) aggregate — at most 168 groups whatever the corpus
    size; the share normalizer is a window over the 168-row result (a
    sibling aggregate would re-scan the input — the `stats_benford_test`
    lesson). The dow numbering trap is explicit: Spark `dayofweek` is
    1=Sunday, DuckDB's is 0=Sunday — the oracle shifts (+1) rather than
    both sides agreeing by luck (§8 catalog)."""
    from pyspark.sql import Window

    c = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        c.withColumn("nn", F.sum("n").over(wt))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hour").cast("int").alias("hour"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("10000 * n DIV nn").cast("bigint").alias("share_bp"),
        )
        .orderBy("dow", "hour")
    )


# ---------------------------------------------------------------------------
# events_cart_abandonment
# ---------------------------------------------------------------------------
@register(
    "events_cart_abandonment",
    oracle="""
    WITH sess AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, user_id,
             count_if(event_type = 'view') > 0 AS viewed,
             count_if(event_type = 'purchase') > 0 AS bought
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(count_if(viewed) AS BIGINT) AS n_viewing_sessions,
           CAST(count_if(viewed AND NOT bought) AS BIGINT) AS n_abandoned,
           CAST(count_if(viewed AND bought) AS BIGINT) AS n_converted,
           CAST(10000 * count_if(viewed AND NOT bought)
                // greatest(count_if(viewed), 1) AS BIGINT)
             AS abandonment_bp
    FROM sess GROUP BY day ORDER BY day
    """,
)
def events_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart abandonment per day: a (user, day) session that VIEWED but
    never PURCHASED is abandoned; report viewing sessions, abandoned vs
    converted, and the abandonment share in integer basis points — the
    session-level complement to `events_funnel` (event-level rate) and
    `events_time_to_convert` (latency of those who did).

    Session flags come from ONE (day, user) conditional-count rollup
    (no per-type self-join), the day report from a second bounded
    aggregate — all-integer, the `events_frequency_capping` shape."""
    sess = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .agg(
            (F.count_if(F.col("event_type") == "view") > 0).alias("viewed"),
            (F.count_if(F.col("event_type") == "purchase") > 0).alias("bought"),
        )
    )
    v, b = F.col("viewed"), F.col("bought")
    return (
        sess.groupBy("day")
        .agg(
            F.count_if(v).cast("bigint").alias("n_viewing_sessions"),
            F.count_if(v & ~b).cast("bigint").alias("n_abandoned"),
            F.count_if(v & b).cast("bigint").alias("n_converted"),
            F.expr(
                "10000 * count_if(viewed AND NOT bought)"
                " DIV greatest(count_if(viewed), 1)"
            )
            .cast("bigint")
            .alias("abandonment_bp"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# events_audience_overlap
# ---------------------------------------------------------------------------
@register(
    "events_audience_overlap",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, user_id
      FROM events
    ),
    pairs AS (
      SELECT a.day AS day, b.day AS prev_day,
             COUNT(*) AS both_active
      FROM ud a JOIN ud b
        ON a.user_id = b.user_id
       AND CAST(a.day AS DATE) = CAST(b.day AS DATE) + INTERVAL 1 DAY
      GROUP BY 1, 2
    ),
    sizes AS (SELECT day, COUNT(*) AS n FROM ud GROUP BY day)
    SELECT p.day,
           CAST(p.both_active AS BIGINT) AS both_active,
           CAST(sa.n AS BIGINT) AS n_today,
           CAST(sb.n AS BIGINT) AS n_yesterday,
           ROUND(p.both_active * 1.0
                 / (sa.n + sb.n - p.both_active), 4) AS jaccard,
           ROUND(p.both_active * 1.0 / sb.n, 4) AS retention
    FROM pairs p
    JOIN sizes sa ON p.day = sa.day
    JOIN sizes sb ON p.prev_day = sb.day
    ORDER BY p.day
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap: Jaccard and next-day retention of
    the active-user sets of consecutive days — the churn pulse a DAU
    chart hides (DAU can be flat while the audience fully rotates).
    Pairs with `events_dau_wau` (sizes) and `events_retention`
    (cohort-anchored form).

    One (day, user) distinct (checkpointed — its three consumers share
    one compute instead of re-scanning the corpus), then the overlap
    falls out of a LAG over each user's sorted day list: a user counts
    toward (day, day−1) overlap exactly when lag(day) == day−1 — no
    self-join, the shuffle carries the distinct-activity table once.
    Day sizes come from a bounded sibling rollup of the same
    checkpoint and broadcast back onto the ≤#days-row overlap table."""
    ud = (
        table(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .localCheckpoint()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    prev = ud.withColumn("prev_d", F.lag("d").over(w))
    pairs = (
        prev.filter(F.col("d") == F.date_add(F.col("prev_d"), 1))
        .groupBy(F.col("d").alias("day_d"), "prev_d")
        .agg(F.count(F.lit(1)).alias("both_active"))
    )
    sizes = ud.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("d").alias("day_d"), F.col("n").alias("n_today"))
    sb = sizes.select(F.col("d").alias("prev_d"), F.col("n").alias("n_yesterday"))
    ba = F.col("both_active")
    return (
        pairs.join(F.broadcast(sa), "day_d")
        .join(F.broadcast(sb), "prev_d")
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            ba.cast("bigint").alias("both_active"),
            F.col("n_today").cast("bigint").alias("n_today"),
            F.col("n_yesterday").cast("bigint").alias("n_yesterday"),
            F.round(
                ba * 1.0 / (F.col("n_today") + F.col("n_yesterday") - ba), 4
            ).alias("jaccard"),
            F.round(ba * 1.0 / F.col("n_yesterday"), 4).alias("retention"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# events_cohort_retention_matrix
# ---------------------------------------------------------------------------
@register(
    "events_cohort_retention_matrix",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
      FROM events
    ),
    first_wk AS (
      SELECT user_id, MIN(wk) AS cohort FROM ud GROUP BY user_id
    ),
    cells AS (
      SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
             CAST(datediff('week', f.cohort, u.wk) AS INT) AS week_offset,
             COUNT(*) AS active_users
      FROM ud u JOIN first_wk f USING (user_id)
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_week, active_users AS cohort_size
      FROM cells WHERE week_offset = 0
    )
    SELECT c.cohort_week, c.week_offset,
           CAST(c.active_users AS BIGINT) AS active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(10000 * c.active_users // s.cohort_size AS BIGINT)
             AS retention_bp
    FROM cells c JOIN sizes s USING (cohort_week)
    ORDER BY c.cohort_week, c.week_offset
    """,
)
def events_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly cohort retention triangle: users grouped by
    first-active week; each (cohort, week-offset) cell counts how many
    came back, with retention in integer basis points of the cohort
    size — the full matrix behind `events_retention`'s D1/D7 scalar
    and `events_cohort_ltv`'s revenue form.

    Two bounded aggregates over the checkpointed (user, week) distinct
    table (never events × events): first-week per user, then the
    (cohort, offset) cell rollup; the cohort size is the offset-0
    diagonal read back via a WINDOW over the cell table itself — a
    filtered-self-join formulation re-derives the whole cell pipeline
    twice (the Exchange budget pin caught exactly that)."""
    ud = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("wk"),
        )
        .distinct()
        .localCheckpoint()
    )
    first_wk = ud.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    cells = (
        ud.join(first_wk, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            ((F.datediff(F.col("wk"), F.col("cohort"))) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    wk_win = Window.partitionBy("cohort_week")
    cells = cells.withColumn(
        "cohort_size",
        F.max(
            F.when(F.col("week_offset") == 0, F.col("active_users"))
        ).over(wk_win),
    )
    return (
        cells
        .select(
            "cohort_week",
            "week_offset",
            F.col("active_users").cast("bigint").alias("active_users"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.expr("10000 * active_users DIV cohort_size")
            .cast("bigint")
            .alias("retention_bp"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# events_ab_contamination
# ---------------------------------------------------------------------------
@register(
    "events_ab_contamination",
    oracle="""
    WITH exp AS (
      SELECT user_id,
             count_if(event_id % 2 = 0) AS n_a,
             count_if(event_id % 2 = 1) AS n_b
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
           CAST(COALESCE(count_if(n_a > 0 AND n_b = 0), 0) AS BIGINT) AS pure_a,
           CAST(COALESCE(count_if(n_b > 0 AND n_a = 0), 0) AS BIGINT) AS pure_b,
           CAST(COALESCE(count_if(n_a > 0 AND n_b > 0), 0) AS BIGINT)
             AS contaminated,
           CAST(10000 * count_if(n_a > 0 AND n_b > 0) // COUNT(*)
                AS BIGINT) AS contamination_bp
    FROM exp
    """,
)
def events_ab_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B exposure-integrity audit: with variant assigned per EVENT
    (the broken-by-design demo: event parity, not user hash), count
    users exposed to both arms — contaminated users dilute any
    treatment effect toward zero and bias CUPED/DiD adjustments. The
    integrity check that runs BEFORE `stats_chi2_srm` asks whether
    arm SIZES are right: contamination can be 100% while SRM passes.
    (The fix this key motivates is `sample_hash_bucket`-style
    user-keyed assignment, where contamination is structurally zero.)

    One user-keyed conditional-count rollup + a 1-row integer audit —
    the `events_cart_abandonment` shape."""
    exp = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_id") % 2 == 0).alias("n_a"),
            F.count_if(F.col("event_id") % 2 == 1).alias("n_b"),
        )
    )
    na, nb = F.col("n_a"), F.col("n_b")
    return exp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count_if((na > 0) & (nb == 0)).cast("bigint").alias("pure_a"),
        F.count_if((nb > 0) & (na == 0)).cast("bigint").alias("pure_b"),
        F.count_if((na > 0) & (nb > 0)).cast("bigint").alias("contaminated"),
        F.expr(
            # zero users: share undefined -> NULL, the value DuckDB's `//`
            # yields on a zero divisor (r7 edge sweep — DIV raised)
            "CASE WHEN count(1) = 0 THEN NULL ELSE"
            " 10000 * count_if(n_a > 0 AND n_b > 0) DIV count(1) END"
        )
        .cast("bigint")
        .alias("contamination_bp"),
    )


# ---------------------------------------------------------------------------
# events_recency_weighted_score
# ---------------------------------------------------------------------------
@register(
    "events_recency_weighted_score",
    oracle="""
    WITH anchor AS (SELECT MAX(epoch_us(ts)) AS t_max FROM events),
    s AS (
      SELECT e.user_id,
             SUM(COALESCE(e.value, 0)
                 * EXP(-0.1 * CAST(anchor.t_max - epoch_us(e.ts) AS DOUBLE)
                       / 86400e6)) AS score,
             COUNT(*) AS n_events
      FROM events e CROSS JOIN anchor
      GROUP BY e.user_id
    ),
    r AS (
      SELECT user_id, ROUND(score, 4) AS score, n_events,
             ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, user_id) AS rn
      FROM s
    )
    SELECT user_id, score, CAST(n_events AS BIGINT) AS n_events
    FROM r WHERE rn <= 100 ORDER BY score DESC, user_id
    """,
)
def events_recency_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential recency-weighted engagement scoring: each event
    contributes value·e^(−0.1·age_days) against the corpus max
    timestamp, summed per user; top-100 reported. The standard
    recsys/CRM recency weighting — yesterday's purchase outranks last
    month's — with the decay rate as the single tunable.

    The anchor is a 1-row MAX broadcast (never driver wall-clock — the
    score must be a pure function of the DATA for reruns to agree);
    ages are µs integers until one exp() per row in codegen; one
    user-keyed combinable aggregate; top-100 is TakeOrderedAndProject
    on the rounded score + id tiebreak (boundary-ulp discipline)."""
    ev = table(spark, sf_dir, "events").select("user_id", "value", "ts")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("t_max"))
    s = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.coalesce(F.col("value"), F.lit(0))
                * F.exp(
                    F.lit(-0.1)
                    * (F.col("t_max") - F.unix_micros("ts")).cast("double")
                    / F.lit(86400e6)
                )
            ).alias("score_raw"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        s.select(
            "user_id",
            F.round("score_raw", 4).alias("score"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy(F.desc("score"), "user_id")
        .limit(100)
        .orderBy(F.desc("score"), "user_id")
    )


# ---------------------------------------------------------------------------
# events_growth_accounting
# ---------------------------------------------------------------------------
@register(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    flags AS (
      SELECT user_id, d,
             MIN(d) OVER (PARTITION BY user_id) AS first_d,
             LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
      FROM ud
    ),
    classified AS (
      SELECT strftime(d, '%Y-%m-%d') AS day,
             CASE WHEN d = first_d THEN 'new'
                  WHEN prev_d = d - INTERVAL 1 DAY THEN 'retained'
                  ELSE 'resurrected' END AS status
      FROM flags
    ),
    churn AS (
      SELECT strftime(d + INTERVAL 1 DAY, '%Y-%m-%d') AS day,
             COUNT(*) AS churned
      FROM flags f
      WHERE NOT EXISTS (
        SELECT 1 FROM ud u2
        WHERE u2.user_id = f.user_id AND u2.d = f.d + INTERVAL 1 DAY
      )
      AND f.d + INTERVAL 1 DAY <= (SELECT MAX(d) FROM ud)
      GROUP BY 1
    ),
    daily AS (
      SELECT day,
             count_if(status = 'new') AS new_users,
             count_if(status = 'retained') AS retained,
             count_if(status = 'resurrected') AS resurrected,
             COUNT(*) AS dau
      FROM classified GROUP BY day
    )
    SELECT d.day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(d.new_users AS BIGINT) AS new_users,
           CAST(d.retained AS BIGINT) AS retained,
           CAST(d.resurrected AS BIGINT) AS resurrected,
           CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned
    FROM daily d LEFT JOIN churn c USING (day)
    ORDER BY d.day
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's actives decompose into NEW (first
    day ever), RETAINED (also active yesterday) and RESURRECTED (seen
    before, not yesterday), with CHURNED (active yesterday, absent
    today) alongside — the identity ΔDAU = new + resurrected − churned
    that the suite pins. The full decomposition behind
    `events_new_vs_returning` (2-way) and `events_audience_overlap`
    (the retained diagonal only): flat DAU with high new+churn is a
    leaky bucket, and only this view shows it.

    Everything derives from ONE lag/min window pass over the (user,
    day) distinct — the user's own timeline classifies every status
    INCLUDING churn (a user churns at d+1 exactly when their next
    active day ≠ d+1), so there is no day×user anti-join; the oracle's
    NOT EXISTS is the semantic spec, not the plan."""
    ud = (
        table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .localCheckpoint()  # classification + churn + max-day share it
    )
    w = Window.partitionBy("user_id").orderBy("d")
    flags = ud.select(
        "user_id",
        "d",
        F.min("d").over(Window.partitionBy("user_id")).alias("first_d"),
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
    ).localCheckpoint()  # classification AND churn read the same windows
    status = (
        F.when(F.col("d") == F.col("first_d"), "new")
        .when(F.col("prev_d") == F.date_sub(F.col("d"), 1), "retained")
        .otherwise("resurrected")
    )
    classified = flags.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), status.alias("status")
    )
    daily = classified.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau"),
        F.count_if(F.col("status") == "new").alias("new_users"),
        F.count_if(F.col("status") == "retained").alias("retained"),
        F.count_if(F.col("status") == "resurrected").alias("resurrected"),
    )
    max_d = ud.agg(F.max("d").alias("mx"))
    churn = (
        flags.crossJoin(F.broadcast(max_d))
        .filter(
            (F.col("next_d").isNull() | (F.col("next_d") != F.date_add("d", 1)))
            & (F.date_add("d", 1) <= F.col("mx"))
        )
        .groupBy(F.date_format(F.date_add("d", 1), "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return (
        daily.join(F.broadcast(churn), "day", "left")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("new_users").cast("bigint").alias("new_users"),
            F.col("retained").cast("bigint").alias("retained"),
            F.col("resurrected").cast("bigint").alias("resurrected"),
            F.coalesce(F.col("churned"), F.lit(0)).cast("bigint").alias("churned"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# events_adoption_curve
# ---------------------------------------------------------------------------
@register(
    "events_adoption_curve",
    oracle="""
    WITH firsts AS (
      SELECT event_type, user_id,
             MIN(CAST(ts AS DATE)) AS first_d
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            AND ts IS NOT NULL
      GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, strftime(first_d, '%Y-%m-%d') AS day,
             COUNT(*) AS new_adopters
      FROM firsts GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, COUNT(*) AS total_adopters
      FROM firsts GROUP BY event_type
    )
    SELECT d.event_type, d.day,
           CAST(d.new_adopters AS BIGINT) AS new_adopters,
           CAST(SUM(d.new_adopters) OVER (PARTITION BY d.event_type
                                          ORDER BY d.day) AS BIGINT)
             AS cum_adopters,
           CAST(10000 * SUM(d.new_adopters)
                  OVER (PARTITION BY d.event_type ORDER BY d.day)
                // t.total_adopters AS BIGINT) AS adoption_bp
    FROM daily d JOIN tot t USING (event_type)
    ORDER BY d.event_type, d.day
    """,
)
def events_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-adoption S-curves: per event type, daily NEW adopters
    (each user counts once, on their first use of that type) and the
    cumulative adoption share in basis points of the type's eventual
    adopter base — the product-analytics chart that separates a
    launch spike from durable adoption; the per-feature sibling of
    `events_growth_accounting`'s corpus-level 'new'.

    One (type, user) first-day aggregate, a bounded (type, day)
    rollup, then cumulative windows over the ≤types×days curve table;
    the adopter totals ride a window over the same table (no second
    pass)."""
    firsts = (
        table(spark, sf_dir, "events")
        # two-sided gate: adoption needs an adopter, a feature, and a
        # date; under mixed NULLs the oracle's JOIN USING(event_type)
        # silently drops the NULL-type curve row that the engine's
        # window keeps (r8 nullmix sweep)
        .filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy("event_type", "user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("first_d"))
    )
    daily = firsts.groupBy(
        "event_type", F.date_format("first_d", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_adopters"))
    wc = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    curve = daily.withColumn(
        "cum_adopters", F.sum("new_adopters").over(wc)
    ).withColumn("total_adopters", F.sum("new_adopters").over(wt))
    return curve.select(
        "event_type",
        "day",
        F.col("new_adopters").cast("bigint").alias("new_adopters"),
        F.col("cum_adopters").cast("bigint").alias("cum_adopters"),
        F.expr("10000 * cum_adopters DIV total_adopters")
        .cast("bigint")
        .alias("adoption_bp"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# events_best_send_hour
# ---------------------------------------------------------------------------
@register(
    "events_best_send_hour",
    oracle="""
    WITH uh AS (
      SELECT user_id, EXTRACT(hour FROM ts) AS hour, COUNT(*) AS c
      FROM events GROUP BY user_id, hour
    ),
    best AS (
      SELECT user_id, hour, c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY c DESC, hour) AS rn
      FROM uh
    )
    SELECT CAST(hour AS INT) AS best_hour,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(c), 4) AS mean_events_at_best
    FROM best WHERE rn = 1
    GROUP BY hour ORDER BY best_hour
    """,
)
def events_best_send_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Send-time optimization: each user's MODAL activity hour
    (count argmax, earliest-hour tiebreak) and how the user base
    distributes over those best hours — the CRM primitive behind
    'notify each user when THEY are active' instead of one global
    blast hour; the per-user personalization of what
    `events_heatmap_hour_dow` shows in aggregate.

    One (user, hour) rollup, a per-user argmax window on the ≤24-row
    user partitions (literal rn=1 bound → WindowGroupLimit), then a
    ≤24-group summary."""
    uh = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("c"), "hour")
    best = uh.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy(F.col("hour").cast("int").alias("best_hour"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("c"), 4).alias("mean_events_at_best"),
        )
        .orderBy("best_hour")
    )


# ---------------------------------------------------------------------------
# events_anomaly_deseasonalized
# ---------------------------------------------------------------------------
@register(
    "events_anomaly_deseasonalized",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    dows AS (
      SELECT day, rev, dayofweek(day) AS dow FROM daily
    ),
    adj AS (
      SELECT day, rev, dow,
             rev - AVG(rev) OVER (PARTITION BY dow) AS resid
      FROM dows
    ),
    m AS (
      SELECT day, resid,
             AVG(resid) OVER () AS mu,
             STDDEV_SAMP(resid) OVER () AS sigma
      FROM adj
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ROUND((resid - mu) / sigma, 4) + 0 AS z,
           CAST(ABS((resid - mu) / sigma) > 2.5 AS BOOLEAN) AS is_anomaly
    FROM m ORDER BY day
    """,
)
def events_anomaly_deseasonalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-adjusted anomaly scores: subtract each day's
    day-of-week mean from daily revenue FIRST, then z-score the
    residuals — without the adjustment every weekend is an 'anomaly'
    and real weekday incidents hide inside the weekly swing (the
    deseasonalize-then-threshold discipline `events_anomaly_zscore`
    skips and `ts_hampel_outliers` sidesteps with robustness).

    One day-grain aggregate; the weekday means, residual moments and
    z-scores are all windows over the bounded day table. dow numbering
    is 0=Sunday in both engines at this call pattern (the
    `ts_seasonal_decompose` precedent)."""
    daily = (
        table(spark, sf_dir, "events")
        # two-sided gate: a dateless event has no weekday (r8 nullmix)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
    )
    dows = daily.select("day", "rev", (F.dayofweek("day") - 1).alias("dow"))
    adj = dows.withColumn(
        "resid", F.col("rev") - F.avg("rev").over(Window.partitionBy("dow"))
    )
    wt = Window.partitionBy()
    m = adj.withColumn("mu", F.avg("resid").over(wt)).withColumn(
        "sigma", F.stddev_samp("resid").over(wt)
    )
    # try_divide: sigma degenerates to 0 on a tiny/uniform day table —
    # NULL z on both engines (DuckDB x/0 is NULL), not an ANSI crash
    z = F.try_divide(F.col("resid") - F.col("mu"), F.col("sigma"))
    return m.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round(z, 4) + F.lit(0)).alias("z"),
        (F.abs(z) > 2.5).alias("is_anomaly"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# events_dose_response
# ---------------------------------------------------------------------------
@register(
    "events_dose_response",
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS n_events,
             count_if(event_type = 'purchase') > 0 AS converted
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT *, NTILE(10) OVER (ORDER BY n_events, user_id) AS decile
      FROM u
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(n_events), 4) AS mean_exposure,
           CAST(count_if(converted) AS BIGINT) AS n_converted,
           CAST(10000 * count_if(converted) // COUNT(*) AS BIGINT)
             AS conversion_bp
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def events_dose_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement dose-response curve: users ranked into activity
    deciles (total events = the 'dose'), conversion rate per decile —
    monotone-increasing response is the correlational backbone of
    every 'engagement drives conversion' claim, and a FLAT curve kills
    it (causality then needs `stats_nn_matching`/`events_cuped_adjust`
    to say more). Exposure and response both from ONE user rollup.

    Decile assignment uses `functions.distributed.binned_exact_ntile`
    (the `ml_eval_lift` discipline: no single-task ntile sort; r12,
    VERDICT r11 next-#4: ONE executed job — n_events is a DERIVED
    dose, so the bin bounds come from the helper's in-plan broadcast
    min/max arm, which shares the user-rollup exchange via
    ReusedExchange); the response table is 10 rows, all-integer bp
    rates."""
    from ..functions.distributed import binned_exact_ntile

    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.count_if(F.col("event_type") == "purchase") > 0).alias("converted"),
        )
    )
    d = binned_exact_ntile(u, 10, "n_events", ["user_id"], "decile")
    return (
        d.groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("n_events"), 4).alias("mean_exposure"),
            F.count_if(F.col("converted")).cast("bigint").alias("n_converted"),
            F.expr("10000 * count_if(converted) DIV count(1)")
            .cast("bigint")
            .alias("conversion_bp"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# events_repeat_purchase
# ---------------------------------------------------------------------------
@register(
    "events_repeat_purchase",
    oracle="""
    WITH buys AS (
      SELECT user_id, epoch_us(ts) AS t,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nth
      FROM events WHERE event_type = 'purchase'
    ),
    firsts AS (
      SELECT user_id,
             MAX(CASE WHEN nth = 1 THEN t END) AS t1,
             MAX(CASE WHEN nth = 2 THEN t END) AS t2,
             MAX(nth) AS n_buys
      FROM buys GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buyers,
           -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
           CAST(COALESCE(count_if(n_buys >= 2), 0) AS BIGINT) AS n_repeat,
           CAST(10000 * count_if(n_buys >= 2) // COUNT(*) AS BIGINT)
             AS repeat_bp,
           ROUND(AVG(CASE WHEN t2 IS NOT NULL
                     THEN (t2 - t1) / 3600e6 END), 4) AS mean_gap_h,
           ROUND(quantile_cont(CASE WHEN t2 IS NOT NULL
                               THEN (t2 - t1) / 3600e6 END, 0.5), 4)
             AS p50_gap_h
    FROM firsts
    """,
)
def events_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase economics: share of buyers who buy AGAIN and the
    first-to-second purchase latency (mean + exact median hours) — the
    loyalty metric that predicts LTV better than first conversion
    (`events_time_to_convert` measures acquisition; this measures the
    habit). The nth-purchase window also generalizes to any 'time to
    Nth action' question.

    One user-partitioned purchase ordering (purchases only — the
    window input is pre-filtered to the small slice), a conditional
    first/second extraction per user, and a 1-row summary with exact
    percentile; µs integers until the hour division."""
    buys = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("t"), "event_id")
        .withColumn(
            "nth",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("t", "event_id")
            ),
        )
    )
    firsts = buys.groupBy("user_id").agg(
        F.max(F.when(F.col("nth") == 1, F.col("t"))).alias("t1"),
        F.max(F.when(F.col("nth") == 2, F.col("t"))).alias("t2"),
        F.max("nth").alias("n_buys"),
    )
    gap_h = F.when(
        F.col("t2").isNotNull(), (F.col("t2") - F.col("t1")) / F.lit(3600e6)
    )
    return firsts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
        F.count_if(F.col("n_buys") >= 2).cast("bigint").alias("n_repeat"),
        F.expr(
            # zero buyers: share undefined -> NULL, the value DuckDB's `//`
            # yields on a zero divisor (r7 edge sweep — DIV raised)
            "CASE WHEN count(1) = 0 THEN NULL ELSE"
            " 10000 * count_if(n_buys >= 2) DIV count(1) END"
        )
        .cast("bigint")
        .alias("repeat_bp"),
        F.round(F.avg(gap_h), 4).alias("mean_gap_h"),
        F.round(F.expr(
            "percentile(CASE WHEN t2 IS NOT NULL"
            " THEN (t2 - t1) / 3600e6 END, 0.5)"
        ), 4).alias("p50_gap_h"),
    )


# --- difference-in-differences -----------------------------------------------
@register(
    "events_did_estimator",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'ctrl' END AS grp,
             CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 'post'
                  ELSE 'pre' END AS period,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT grp, period, COUNT(*) AS n,
             CAST((2 * SUM(cents) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
               AS mean_c
      FROM c GROUP BY grp, period
    )
    SELECT
      CAST(SUM(n) AS BIGINT) AS n_purchases,
      CAST(MIN(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_c END)
           AS BIGINT) AS m_treat_pre,
      CAST(MIN(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_c END)
           AS BIGINT) AS m_treat_post,
      CAST(MIN(CASE WHEN grp = 'ctrl' AND period = 'pre' THEN mean_c END)
           AS BIGINT) AS m_ctrl_pre,
      CAST(MIN(CASE WHEN grp = 'ctrl' AND period = 'post' THEN mean_c END)
           AS BIGINT) AS m_ctrl_post,
      CAST((MIN(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_c END)
            - MIN(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_c END))
           - (MIN(CASE WHEN grp = 'ctrl' AND period = 'post' THEN mean_c END)
              - MIN(CASE WHEN grp = 'ctrl' AND period = 'pre' THEN mean_c END))
           AS BIGINT) AS did_c
    FROM m
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimate for a
    rollout without randomization: (treated post − treated pre) minus
    (control post − control pre) cancels both the group baseline gap
    and the common time trend. Hash split defines treatment (backfill-
    stable, like every sampler here); purchase value in integer cents
    with round-half-up cell means, so the estimate is integer-exact
    cross-engine.

    Scale shape: ONE conditional partial+final agg over the purchase
    scan produces the four cells; the estimator is a 4-row fold. The
    window for inference is `stats_bootstrap_ci`'s Poisson bootstrap —
    same split keys, resample the DiD instead of a mean."""
    from ..catalog import table as _table

    e = _table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    c = e.select(
        F.when(F.col("user_id") % 2 == 1, "treat").otherwise("ctrl").alias("grp"),
        F.when(F.col("ts") >= F.lit("2024-01-15").cast("timestamp"), "post")
        .otherwise("pre")
        .alias("period"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    m = c.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST((2 * SUM(cents) + COUNT(*)) DIV (2 * COUNT(*)) AS BIGINT)")
        .alias("mean_c"),
    )

    def cell(g, p):
        return F.min(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col("mean_c"))
        )

    return m.agg(
        F.sum("n").cast("bigint").alias("n_purchases"),
        cell("treat", "pre").cast("bigint").alias("m_treat_pre"),
        cell("treat", "post").cast("bigint").alias("m_treat_post"),
        cell("ctrl", "pre").cast("bigint").alias("m_ctrl_pre"),
        cell("ctrl", "post").cast("bigint").alias("m_ctrl_post"),
        (
            (cell("treat", "post") - cell("treat", "pre"))
            - (cell("ctrl", "post") - cell("ctrl", "pre"))
        )
        .cast("bigint")
        .alias("did_c"),
    )


# --- Kaplan-Meier survival ---------------------------------------------------
@register(
    "events_survival_km",
    oracle="""
    WITH RECURSIVE ue AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS p
      FROM events GROUP BY user_id
    ),
    u AS (  -- 3-day follow-up horizon: convert within it or censor at 3
      SELECT LEAST(COALESCE(datediff('day', f, p), 999), 3) AS t,
             (COALESCE(datediff('day', f, p), 999) > 3) AS censored
      FROM ue
    ),
    lt AS (
      SELECT t,
             CAST(count_if(NOT censored) AS BIGINT) AS d,
             CAST(count_if(censored) AS BIGINT) AS c
      FROM u GROUP BY t
    ),
    ns AS (
      SELECT t, d, CAST(SUM(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n
      FROM lt
    ),
    ev AS (
      SELECT t, d, n, ROW_NUMBER() OVER (ORDER BY t) AS rn
      FROM ns WHERE d > 0
    ),
    km(rn, t, n, d, s_e6) AS (
      SELECT rn, t, n, d, CAST((n - d) * 1000000 // n AS BIGINT)
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.rn, e.t, e.n, e.d, CAST(k.s_e6 * (e.n - e.d) // e.n AS BIGINT)
      FROM km k JOIN ev e ON e.rn = k.rn + 1
    )
    SELECT CAST(t AS BIGINT) AS t_days, n AS n_at_risk, d AS n_churned, s_e6
    FROM km
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion WITH censoring — funnel-timing
    analytics done right: each user is followed for a 3-day horizon
    from first activity; converting inside it is the event at t =
    days-to-first-purchase, and a user still unconverted at the horizon
    is CENSORED at t=3 (not a failure at t=3 — exactly the distinction
    naive conversion curves get wrong). The estimator is the classic
    product-limit
    S(t) = Π_{t'≤t} (1 − d/n), kept integer-exact in e6 fixed point
    with one floor division per event time, and the product chain runs
    as a RECURSIVE CTE — the same engine-iterated recursion surface as
    `sql_recursive_cte`, in BOTH dialects (Spark 4 WITH RECURSIVE vs
    DuckDB's, floor-division spellings differing).

    Scale shape: corpus work is ONE per-user min/max agg; the life
    table is duration-grain (≤ #days rows — post-agg ts_ discipline
    for its suffix-sum window), and the recursion joins one row per
    step."""
    from ..catalog import table as _table

    _table(spark, sf_dir, "events").createOrReplaceTempView("km_events")
    return spark.sql(
        """
        WITH RECURSIVE ue AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS f,
                 MIN(CASE WHEN event_type = 'purchase'
                          THEN CAST(ts AS DATE) END) AS p
          FROM km_events GROUP BY user_id
        ),
        u AS (  -- 3-day follow-up horizon: convert within it or censor at 3
          SELECT LEAST(COALESCE(datediff(p, f), 999), 3) AS t,
                 (COALESCE(datediff(p, f), 999) > 3) AS censored
          FROM ue
        ),
        lt AS (
          SELECT t,
                 CAST(count_if(NOT censored) AS BIGINT) AS d,
                 CAST(count_if(censored) AS BIGINT) AS c
          FROM u GROUP BY t
        ),
        ns AS (
          SELECT t, d, CAST(SUM(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n
          FROM lt
        ),
        ev AS (
          SELECT t, d, n, ROW_NUMBER() OVER (ORDER BY t) AS rn
          FROM ns WHERE d > 0
        ),
        km(rn, t, n, d, s_e6) AS (
          SELECT rn, t, n, d, CAST((n - d) * 1000000 DIV n AS BIGINT)
          FROM ev WHERE rn = 1
          UNION ALL
          SELECT e.rn, e.t, e.n, e.d,
                 CAST(k.s_e6 * (e.n - e.d) DIV e.n AS BIGINT)
          FROM km k JOIN ev e ON e.rn = k.rn + 1
        )
        SELECT CAST(t AS BIGINT) AS t_days, n AS n_at_risk, d AS n_churned,
               s_e6
        FROM km
        """
    )


# --- cohort LTV curve --------------------------------------------------------
@register(
    "events_cohort_ltv",
    oracle="""
    WITH u AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    cs AS (
      SELECT CAST(date_trunc('week', first_day) AS TIMESTAMP) AS cohort,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM u GROUP BY 1
    ),
    p AS (
      SELECT CAST(date_trunc('week', u.first_day) AS TIMESTAMP) AS cohort,
             CAST(datediff('day', u.first_day, CAST(e.ts AS DATE)) // 7
                  AS BIGINT) AS age_week,
             CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM events e JOIN u USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT p.cohort, p.age_week, cs.n_users, p.rev_c,
           CAST((2 * SUM(p.rev_c) OVER (PARTITION BY p.cohort
                   ORDER BY p.age_week) + cs.n_users)
                // (2 * cs.n_users) AS BIGINT) AS cum_ltv_c_per_user
    FROM p JOIN cs ON p.cohort = cs.cohort
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle — the revenue view of `events_retention`'s
    activity triangle: users cohort by signup week, purchase revenue
    buckets by age-week, and each cell reports the cohort's CUMULATIVE
    lifetime value per user (integer cents, round-half-up) — the table
    payback-period decisions read off directly.

    Scale shape: ONE per-user first-day agg (broadcast back — the user
    dimension at 100 TB is the thing you'd maintain incrementally),
    one (cohort, age) revenue agg, and the running sum is a window
    over the TINY cohort×age triangle. All integer; weeks via ISO
    date_trunc in both engines."""
    from pyspark.sql import Window

    from ..catalog import table as _table

    e = _table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    cs = u.groupBy(
        F.date_trunc("week", "first_day").alias("cohort")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(u, "user_id")
        .groupBy(
            F.date_trunc("week", "first_day").alias("cohort"),
            (F.datediff(F.to_date("ts"), F.col("first_day")) / 7)
            .cast("bigint")
            .alias("age_week"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_c")
        )
    )
    wc = Window.partitionBy("cohort").orderBy("age_week")
    return (
        p.join(F.broadcast(cs), "cohort")
        .select(
            "cohort",
            "age_week",
            "n_users",
            "rev_c",
            F.expr(
                "CAST((2 * SUM(rev_c) OVER (PARTITION BY cohort ORDER BY"
                " age_week) + n_users) DIV (2 * n_users) AS BIGINT)"
            ).alias("cum_ltv_c_per_user"),
        )
    )


# --- activity streaks (gaps and islands) -------------------------------------
@register(
    "events_activity_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    g AS (  -- island id: day minus per-user day-rank is constant per streak
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp
      FROM d
    ),
    s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len FROM g
      GROUP BY user_id, grp
    ),
    m AS (
      SELECT user_id, MAX(len) AS best FROM s GROUP BY user_id
    )
    SELECT best AS streak_days, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM m GROUP BY best
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, histogrammed —
    the gaps-and-islands pattern (day − per-user day-rank is constant
    exactly within a run of consecutive days) that powers every streak
    badge and engagement report.

    Scale shape: distinct (user, day) first — the shuffle carries
    user-days, not events; the rank window is USER-partitioned (ideal
    parallelism); streak detection is pure integer arithmetic, no
    self-join over days."""
    from pyspark.sql import Window

    from ..catalog import table as _table

    d = (
        _table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    rk = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.select(
        "user_id", "day", F.date_sub(F.col("day"), rk).alias("grp")
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    m = s.groupBy("user_id").agg(F.max("len").alias("best"))
    return m.groupBy(F.col("best").alias("streak_days")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --- peak concurrency (sweep line) -------------------------------------------
@register(
    "events_peak_concurrency",
    oracle="""
    WITH b AS (
      SELECT ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL 1 HOUR, -1 FROM events
    ),
    g AS (  -- collapse ties: unique (t, delta) keys make ROWS == RANGE
      SELECT t, delta, CAST(SUM(delta) AS BIGINT) AS d
      FROM b GROUP BY t, delta
    ),
    c AS (
      SELECT t, delta,
             CAST(SUM(d) OVER (ORDER BY t, delta) AS BIGINT) AS conc
      FROM g
    )
    SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak
    FROM c WHERE delta = 1 GROUP BY 1
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — every event opens a 1-hour activity
    window; the answer to 'how many were active AT ONCE' is the classic
    sweep line: +1/−1 boundary events, a running sum, max where a
    window opens. Capacity planning reads this table directly.

    The running sum is a GLOBAL prefix — the single-task-window trap —
    so the engine (VERDICT r2 discipline): collapse boundary ties with
    one (t, delta) agg (unique keys also make ROWS ≡ RANGE framing —
    no cross-engine tie ambiguity; ends sort before starts at the same
    instant, giving half-open [start, end) semantics), then
    ``functions.distributed.binned_prefix_sums`` (r12, VERDICT r11
    next-#4: the sampler `prefix_sums` ran FOUR serial driver jobs;
    the in-plan binned scan is ONE executed job — bin-id literals over
    the parquet-footer [min(ts), max(ts)+1h] window of the boundary
    domain, offsets from a bounded nbins-row window + broadcast join).
    Max is taken over opening boundaries only (+1 rows commute within
    a tie run, so the inclusive-tie sum is deterministic)."""
    import datetime

    from ..catalog import parquet_column_stats
    from ..catalog import table as _table
    from ..functions.distributed import binned_prefix_sums

    e = _table(spark, sf_dir, "events")
    b = e.select(F.col("ts").alias("t"), F.lit(1).alias("delta")).unionAll(
        e.select(
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    g = b.groupBy("t", "delta").agg(F.sum("delta").cast("bigint").alias("d"))
    stats = parquet_column_stats(sf_dir, "events", "ts")
    lo = hi = None  # stats-less/odd-typed footer: in-plan broadcast bounds
    if stats is not None and isinstance(stats[0], datetime.datetime):
        lo, hi = stats[0], stats[1] + datetime.timedelta(hours=1)
    p = binned_prefix_sums(g, ["t", "delta"], ["d"], lo, hi)
    c = p.select("t", "delta", F.col("_ps_d").alias("conc"))
    return (
        c.filter(F.col("delta") == 1)
        .groupBy(F.date_trunc("day", "t").alias("day"))
        .agg(F.max("conc").cast("bigint").alias("peak"))
    )


# --- new vs returning users --------------------------------------------------
@register(
    "events_new_vs_returning",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day, f.first_day
      FROM events e JOIN f USING (user_id)
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(count_if(day = first_day) AS BIGINT) AS new_users,
           CAST(count_if(day > first_day) AS BIGINT) AS returning_users,
           CAST(10000 * count_if(day > first_day) // COUNT(*) AS BIGINT)
             AS returning_bp
    FROM d GROUP BY day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into NEW vs RETURNING — the growth-
    accounting decomposition every DAU chart needs underneath it (a
    flat DAU hides whether acquisition is replacing churn). A user is
    new on exactly their first-seen day; integer basis points for the
    returning share.

    Shape: one per-user first-day agg, one user-keyed join (both sides
    keyed on user — co-partitioned shuffle), distinct user-days, then a
    day agg. At 100 TB the first-day table is the incrementally-
    maintained user dimension this joins against."""
    from ..catalog import table as _table

    e = _table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    d = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .join(f, "user_id")
    )
    return d.groupBy(F.col("day").cast("timestamp").alias("day")).agg(
        F.count_if(F.col("day") == F.col("first_day"))
        .cast("bigint")
        .alias("new_users"),
        F.count_if(F.col("day") > F.col("first_day"))
        .cast("bigint")
        .alias("returning_users"),
        F.expr(
            "CAST(10000 * count_if(day > first_day) DIV COUNT(*) AS BIGINT)"
        ).alias("returning_bp"),
    )
