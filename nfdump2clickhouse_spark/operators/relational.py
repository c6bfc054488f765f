"""Relational operators (SURVEY §2.2, §2.6, §2.7).

Projections, filters, sorts, limits and set operations, plus reshaping,
subqueries and the Spark SQL surface (scripting, parameters, pipes).

`project_rename_lit` is the reference's core transform: project the 48-col
nfdump CSV record down to the analytical subset and append a constant
`flowsrc` source tag (SURVEY §1.2 [P]). Everything else is the query
surface the resulting table serves. All built-in Catalyst operators —
filters and column pruning reach the parquet scan (PushedFilters), limits
compile to TakeOrderedAndProject.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import register_views, table
from ..functions.ip import ip_in_cidr, ipv4_to_num
from ..functions.nffilter import compile_filter
from ..registry import register


@register(
    "topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER
      (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group (ClickHouse LIMIT BY [P]) — window + filter; Spark
    optimizes to a per-partition top-k (WindowGroupLimit), no full sort."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "project_rename_lit",
    oracle="""
    SELECT l_orderkey AS okey, l_partkey AS pkey, l_quantity AS qty,
           l_extendedprice AS price, 'tagA' AS flowsrc
    FROM lineitem
    """,
)
def project_rename_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column subset + rename + constant tag — the reference's 48→13+flowsrc
    projection [P SURVEY §1.2] re-expressed on lineitem."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .withColumnsRenamed(
            {
                "l_orderkey": "okey",
                "l_partkey": "pkey",
                "l_quantity": "qty",
                "l_extendedprice": "price",
            }
        )
        .withColumn("flowsrc", F.lit("tagA"))
    )


@register(
    "cast_types",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR)                       AS okey_str,
           CAST(o_orderkey AS DOUBLE)                        AS okey_dbl,
           CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER)   AS pri_num,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')        AS odate_str,
           CAST('42' AS BIGINT)                              AS const_int
    FROM orders
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit str↔ts/int/double casts — the reference's ingest-time typed
    projection (pandas astype/to_datetime [P])."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_orderkey").cast("double").alias("okey_dbl"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("pri_num"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("odate_str"),
        F.lit("42").cast("bigint").alias("const_int"),
    )


@register(
    "filter_time_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    """,
)
def filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical flows query: time-interval predicate (pushes to parquet
    row-group stats when data is written time-sorted — SURVEY §4.1)."""
    l = table(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")


@register(
    "filter_in_like",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_orderstatus
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderpriority LIKE '_-%'
      AND o_orderstatus LIKE 'F%'
    """,
)
def filter_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN lists + LIKE prefix — port-list / address-prefix predicates [P]."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_orderpriority").like("_-%")
        & F.col("o_orderstatus").like("F%")
    ).select("o_orderkey", "o_orderpriority", "o_orderstatus")


@register(
    "filter_null_handling",
    oracle="""
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'P')                         AS status_nn,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING')    AS status_filled,
           (NULLIF(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F') AS is_f
    FROM orders
    WHERE NULLIF(o_orderstatus, 'P') IS NULL
       OR NULLIF(o_orderstatus, 'P') = 'F'
    """,
)
def filter_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nullable-column predicates: the flows `pr` column is Nullable [P
    SURVEY §1.2]; fixtures have no nulls, so synthesize via NULLIF."""
    o = table(spark, sf_dir, "orders")
    status_nn = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        status_nn.alias("status_nn"),
        F.coalesce(status_nn, F.lit("PENDING")).alias("status_filled"),
        status_nn.eqNullSafe(F.lit("F")).alias("is_f"),
    ).filter(status_nn.isNull() | (status_nn == "F"))


# --- §2.6 sorts / limits / top-k -------------------------------------------
@register(
    "sort_multi_nulls",
    oracle="""
    SELECT o_orderkey, NULLIF(o_orderpriority, '5-LOW') AS pri, o_totalprice
    FROM orders
    ORDER BY pri DESC NULLS LAST, o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit NULLS LAST; keyed so the limited set is
    deterministic (SURVEY §5.3.4)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("pri"),
            "o_totalprice",
        )
        .orderBy(
            F.col("pri").desc_nulls_last(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey"),
        )
        .limit(50)
    )


@register(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — compiles to TakeOrderedAndProject (per-partition heaps
    + driver merge; no full sort at 100 TB)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 10 OFFSET 10
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination over a keyed total order (Spark ≥3.4 offset)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(10)
    )


# --- §2.7 set operations ----------------------------------------------------
def _custkeys_by_status(spark: SparkSession, sf_dir: str, status: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == status).select("o_custkey")


@register(
    "set_union_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_by_status(spark, sf_dir, "F").unionByName(
        _custkeys_by_status(spark, sf_dir, "O")
    )


@register(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _custkeys_by_status(spark, sf_dir, "F")
        .union(_custkeys_by_status(spark, sf_dir, "O"))
        .distinct()
    )


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_by_status(spark, sf_dir, "F").intersect(
        _custkeys_by_status(spark, sf_dir, "O")
    )


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_by_status(spark, sf_dir, "F").subtract(
        _custkeys_by_status(spark, sf_dir, "O")
    )


@register(
    "filter_nfdump_lang",
    oracle="""
    WITH f AS (
      SELECT event_id,
             '10.0.' || CAST(user_id % 16 AS VARCHAR) || '.7'       AS sa,
             '192.168.1.' || CAST(event_id % 8 AS VARCHAR)          AS da,
             1024 + event_id % 50000                                AS sp,
             CASE event_id % 3 WHEN 0 THEN 443 WHEN 1 THEN 80 ELSE 53 END AS dp,
             CASE event_id % 2 WHEN 0 THEN 'TCP' ELSE 'UDP' END     AS pr,
             (event_id * 37) % 3000                                 AS ipkt
      FROM events
    )
    SELECT event_id, sa, dp, pr, ipkt FROM f
    WHERE (CAST(split_part(sa, '.', 1) AS BIGINT) * 16777216
         + CAST(split_part(sa, '.', 2) AS BIGINT) * 65536
         + CAST(split_part(sa, '.', 3) AS BIGINT) * 256
         + CAST(split_part(sa, '.', 4) AS BIGINT)
           BETWEEN 167772160 AND 167774207
       AND dp = 443 AND pr = 'TCP')
       OR ipkt > 2000
    """,
)
def filter_nfdump_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nfdump filter language compiled onto Spark
    (functions/nffilter.py): `src net 10.0.0.0/21 and dst port 443 and
    proto tcp or packets > 2k` — the query surface nfdump users already
    have, compiled to Column predicates whose net clause is a numeric
    range (pushdown-able). Flow columns are synthesized deterministically
    from events so the oracle reproduces the semantics in plain SQL."""
    from ..functions.ip import ipv4_to_num
    from ..functions.nffilter import compile_filter

    e = table(spark, sf_dir, "events")
    f = e.select(
        "event_id",
        F.concat(F.lit("10.0."), (F.col("user_id") % 16).cast("string"), F.lit(".7")).alias("sa"),
        F.concat(F.lit("192.168.1."), (F.col("event_id") % 8).cast("string")).alias("da"),
        (F.lit(1024) + F.col("event_id") % 50000).cast("int").alias("sp"),
        F.when(F.col("event_id") % 3 == 0, 443)
        .when(F.col("event_id") % 3 == 1, 80)
        .otherwise(53)
        .cast("int")
        .alias("dp"),
        F.when(F.col("event_id") % 2 == 0, "TCP").otherwise("UDP").alias("pr"),
        ((F.col("event_id") * 37) % 3000).alias("ipkt"),
    ).withColumns(
        {"sa_num": F.expr("0"), "da_num": F.expr("0"), "ibyt": F.lit(0), "td": F.lit(0.0), "flg": F.lit("")}
    )
    f = f.withColumn("sa_num", ipv4_to_num(F.col("sa"))).withColumn(
        "da_num", ipv4_to_num(F.col("da"))
    )
    pred = compile_filter(
        "src net 10.0.0.0/21 and dst port 443 and proto tcp or packets > 2k"
    )
    return f.filter(pred).select("event_id", "sa", "dp", "pr", "ipkt")


@register(
    "filter_cidr",
    oracle="""
    SELECT user_id, ip FROM (
      SELECT DISTINCT user_id,
             '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.7' AS ip
      FROM events WHERE user_id IS NOT NULL)
    WHERE CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
        + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
        + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
        + CAST(split_part(ip, '.', 4) AS BIGINT)
          BETWEEN 167772160 AND 167776255
    """,
)
def filter_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR membership 10.0.0.0/20 compiled to a [lo, hi] range on the
    numeric address — pushdown-capable (SURVEY §4.3.2), unlike any
    string-prefix formulation. NULL users synthesize no address —
    pinned two-sided (class D, same contract as ip_funcs)."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ip = F.concat(F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".7"))
    df = e.select("user_id", ip.alias("ip")).distinct()
    return df.filter(ip_in_cidr(ipv4_to_num(F.col("ip")), "10.0.0.0/20"))


# --- pivot / unpivot ---------------------------------------------------------
@register(
    "reshape_pivot",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS "O",
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS "F",
           ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot orders: one row per priority, one column per order status.

    The pivot values are DECLARED (`pivot(col, values)`), not discovered —
    at 100 TB the two-pass value-discovery scan is a full extra read of
    the fact table; with explicit values the plan is a single partial+final
    hash aggregation, same as any groupBy."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 4))
    )


@register(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'qty' AS metric,
           ROUND(l_quantity, 4) AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', ROUND(l_extendedprice, 4) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc', ROUND(l_discount, 4) FROM lineitem
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) three lineitem measures into (metric, value) rows —
    `df.unpivot` plans as a single-pass Expand (3 output rows per input
    row, no shuffle, no self-union rescan of the table)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 4).alias("qty"),
        F.round("l_extendedprice", 4).alias("price"),
        F.round("l_discount", 4).alias("disc"),
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"], ["qty", "price", "disc"], "metric", "value"
    )


# --- subqueries --------------------------------------------------------------
@register(
    "sub_scalar",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 4) AS price,
           ROUND(o_totalprice - (SELECT AVG(o_totalprice) FROM orders), 4) AS delta
    FROM orders WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders ≥1.8× the global mean price.
    Catalyst executes the subquery once and folds the scalar into the
    predicate — the fact-table pass stays a pushdown-able single scan."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS price,
               ROUND(o_totalprice - (SELECT AVG(o_totalprice) FROM orders), 4) AS delta
        FROM orders WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "sub_correlated",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, ROUND(o.o_totalprice, 4) AS price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 2 * (
        SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def sub_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders >2× their own customer's average.
    `RewriteCorrelatedScalarSubquery` decorrelates this into an aggregate
    + equi-join (SURVEY §4.2) — no per-row re-execution, one shuffle on
    o_custkey shared by the aggregate and the join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, ROUND(o.o_totalprice, 4) AS price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 2 * (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


# --- deterministic heavy hitters (Misra-Gries) -------------------------------
def mg_summaries(df: DataFrame, k: int = 20) -> DataFrame:
    """Per-partition Misra-Gries summaries of `df.item`: (item, c) rows,
    ≤ k per partition, O(k) memory per task regardless of partition
    size. Counts are LOWER bounds (the decrement-all step is what buys
    the memory bound); summing them across partitions preserves both the
    lower-bound property and the freq > n/k no-false-negative guarantee
    (each partial loses < n_partition/k per item)."""
    import pandas as pd

    def mg_partition(batches):
        counters: dict[int, int] = {}
        for pdf in batches:
            for item in pdf["item"].to_numpy():
                item = int(item)
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "c": list(counters.values())}
            )

    return df.mapInPandas(mg_partition, "item long, c long")


@register("topk_spacesaving")  # rows-only: MG estimates are summary-
# dependent; the no-false-negative + error-bound contract is in tests
def topk_spacesaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Misra-Gries summaries, the deterministic
    alternative to `agg_freq_items`: each partition keeps k=20 counters
    (mapInPandas, Arrow-batched — O(k) memory regardless of partition
    size), the P×k partial summaries are then merged and the global
    guarantee holds: any item with true frequency > n/k survives, and
    every estimate is within n_partial/k of truth.

    The merge sums per-item summary counts (a tiny groupBy — P×k rows)
    and keeps the top k; at 100 TB the summaries are still P×k rows, so
    the reduction never touches the corpus twice. Emits the top 10 with
    LOWER-BOUND counts (decrements make MG estimates conservative)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("item")
    )
    merged = (
        mg_summaries(li, k=20)
        .groupBy("item")
        .agg(F.sum("c").alias("est_count"))
    )
    return (
        merged.orderBy(F.desc("est_count"), "item")
        .limit(10)
        .select("item", "est_count")
    )


def _register_tpch_views(spark: SparkSession, sf_dir: str) -> None:
    for t in ("lineitem", "orders", "customer", "supplier"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"w8_{t}")


# --- recursive CTE -----------------------------------------------------------
@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT c.c_nationkey AS a, s.s_nationkey AS b
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    reach(node, hops) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.b, r.hops + 1
      FROM reach r JOIN edges e ON e.a = r.node
      WHERE r.hops < 2
    )
    SELECT node, MIN(hops) AS hops FROM reach GROUP BY node
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.0's WITH RECURSIVE): bounded transitive
    closure — trade-reachability from nation 0 with minimum hop count
    over the directed customer→supplier nation graph. The iterative
    cousin of `graph_pagerank`/`dedup_cluster_cc` expressed purely in
    SQL: each recursion step is a join of the frontier against the edge
    list, exactly the plan the hand-rolled loop emits, but planned and
    iterated by the engine.

    Scale notes: the corpus-sized work is the edge extraction (star
    join + distinct, shared shape with `graph_triangle_count`); the
    recursion then touches only |frontier|×|E| rows per step. The hop
    bound is the termination guarantee — unbounded recursion on a
    cyclic graph never reaches a fixpoint under UNION ALL semantics
    (both engines would loop; UNION-dedup recursion is the cycle-safe
    variant)."""
    _register_tpch_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT DISTINCT c_nationkey AS a, s_nationkey AS b
          FROM w8_lineitem
          JOIN w8_orders ON l_orderkey = o_orderkey
          JOIN w8_customer ON o_custkey = c_custkey
          JOIN w8_supplier ON l_suppkey = s_suppkey
          WHERE c_nationkey <> s_nationkey
        ),
        reach(node, hops) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.b, r.hops + 1
          FROM reach r JOIN edges e ON e.a = r.node
          WHERE r.hops < 2
        )
        SELECT node, MIN(hops) AS hops FROM reach GROUP BY node
        """
    )


# --- pipe syntax -------------------------------------------------------------
@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's `|>` operators, the GoogleSQL-style
    linear form): the pricing-summary rollup written as a top-to-bottom
    pipeline — FROM |> WHERE |> AGGREGATE. Pure syntax: Catalyst lowers
    it to the identical logical plan as the ANSI form (the oracle IS
    that form), so every optimization (pushdown, partial agg) applies
    unchanged. Matters operationally because generated/templated queries
    compose by appending a stage instead of rewriting nested SELECTs."""
    _register_tpch_views(spark, sf_dir)
    return spark.sql(
        """
        FROM w8_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE COUNT(*) AS n,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
           GROUP BY l_returnflag, l_linestatus
        """
    ).select("l_returnflag", "l_linestatus", "n", "revenue")


# --- parameterized SQL -------------------------------------------------------
@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_totalprice > 50000
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, Spark 3.4+/4): the
    injection-safe templating surface — parameters bind as LITERALS in
    the plan (so constant folding and scan pushdown see the real values,
    unlike string concat which invites both injection and cache misses).
    The operational twin of `filter_nfdump_lang`'s compiled filters:
    external inputs become plan constants, never SQL text."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("w10_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM w10_orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :minprice
        GROUP BY o_orderpriority
        """,
        args={"cutoff": "1996-01-01", "minprice": 50000},
    )


# --- session variables -------------------------------------------------------
@register(
    "sql_session_variables",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_quantity >= 40
    GROUP BY l_returnflag
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE / SET VARIABLE, Spark 4): typed,
    session-scoped state referenced directly in queries — how multi-step
    SQL workflows thread thresholds between statements without client-
    side templating. The variable binds as a foldable expression, so
    pushdown sees the literal, same as parameter markers."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("w10_lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE w10_min_qty INT DEFAULT 0")
    spark.sql("SET VARIABLE w10_min_qty = 40")
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM w10_lineitem
        WHERE l_quantity >= w10_min_qty
        GROUP BY l_returnflag
        """
    )


# --- REBALANCE hint ----------------------------------------------------------
@register("hint_rebalance")  # rows-only: output is a layout property
# (file count/sizes), not a value the oracle can see
def hint_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REBALANCE hint: AQE-driven output repartitioning that
    splits skewed partitions AND coalesces tiny ones to target-sized
    chunks — the write-path answer to both the small-files problem
    (`maint_compaction` is the after-the-fact repair; this prevents it)
    and straggler writes from skewed keys. Unlike repartition(n) it
    needs no magic number: AQE sizes from runtime statistics. Emits the
    before/after partition counts of a deliberately skewed projection."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    skewed = li.repartition(64, "l_returnflag")  # 3 keys → ≤3 real + 61 empty
    rebalanced = skewed.hint("rebalance")
    out = tempfile.mkdtemp(prefix="sf_reb_")
    rebalanced.write.mode("overwrite").parquet(out)
    import glob

    n_files = len(glob.glob(os.path.join(out, "*.parquet")))
    n_rows = spark.read.parquet(out).count()
    return spark.createDataFrame(
        [(64, n_files, n_rows)],
        "partitions_before int, files_after int, rows long",
    )


@register("meta_registry_catalog")  # rows-only: self-referential — no
# external oracle can know the registry; reconciliation pinned in tests
def meta_registry_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's information_schema: every registered query key as a
    row — module, capability family (key prefix), whether it carries a
    cross-engine SQL oracle, and its one-line summary. ClickHouse users
    live in system.* tables [P]; this is the equivalent self-describing
    surface, and it is how the SURVEY §2 inventory can be cross-walked
    mechanically instead of by hand.

    Static registration order (not the certification-rotated view): the
    catalog describes what EXISTS, the rotation decides what gets swept
    next — two different questions."""
    import importlib

    from .. import registry as _r

    _r._load_operators()

    def summary(spec):
        # fall back to the operator module's doc: several early keys
        # document themselves at module level, and rewriting their
        # docstrings would invalidate certified source hashes for a
        # cosmetic change
        doc = (spec.doc or "").strip()
        if not doc:
            doc = (importlib.import_module(spec.fn.__module__).__doc__ or "").strip()
        return doc.split("\n")[0][:100]

    rows = [
        (
            k,
            s.fn.__module__.rsplit(".", 1)[-1],
            k.split("_", 1)[0],
            s.oracle is not None,
            summary(s),
        )
        for k, s in _r._REGISTRY.items()
    ]
    return spark.createDataFrame(
        rows,
        "key string, module string, family string, hash_checked boolean,"
        " summary string",
    )


# ---------------------------------------------------------------------------
# sql_scripting_control_flow
# ---------------------------------------------------------------------------
@register(
    "sql_scripting_control_flow",
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    b AS (  -- rows with bit_length(cents) <= j  <=>  cents < 2^j
      SELECT length(printf('%b', cents)) AS bl, COUNT(*) AS n
      FROM v GROUP BY 1
    ),
    c AS (
      SELECT bl AS j, SUM(n) OVER (ORDER BY bl) AS cum,
             SUM(n) OVER () AS total
      FROM b
    )
    SELECT CAST(MIN(j) AS BIGINT) AS j,
           CAST(1::BIGINT << CAST(MIN(j) AS INT) AS BIGINT) AS threshold_cents,
           CAST(MIN(cum) AS BIGINT) AS n_covered,
           CAST(MIN(total) AS BIGINT) AS n_total
    FROM c WHERE cum * 10 >= total * 9
    HAVING COUNT(*) > 0  -- empty input -> empty, matching the script's IF guard
    """,
)
def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN / DECLARE / WHILE / END): a
    procedural doubling search for the smallest power-of-two price
    threshold covering >= 90% of lineitem rows — each WHILE iteration
    issues a real aggregate query against the registered view. The hash
    oracle is the DECLARATIVE form of the same computation (one
    bit-length bucket cumulative) — the pinned equivalence IS the
    point: control flow belongs in the script layer, but anything a
    loop of scans can compute, one cumulative scan computes cheaper
    (the 100 TB guidance this key documents; the script runs O(log
    range) scans, the oracle exactly one). `cents < 2^j` is matched to
    `bit_length(cents) <= j` exactly — integer semantics, no float
    boundary."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    # the loop re-queries the same single column O(log range) times —
    # checkpoint it once so each iteration counts a materialized
    # column, not a fresh parquet decode (the Lloyd-iteration lesson)
    # NULL prices are gated two-sided: a NULL never satisfies `cents < p`,
    # so counting NULL rows in `n` makes the 90% guard unreachable and
    # the doubling loop overflows long (nullmix ARITHMETIC_OVERFLOW at
    # `SET p = p * 2`; EDGE_SWEEP_r10 class B — mirrored WHERE in the
    # oracle's `v`)
    cents = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(
            F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    cents.createOrReplaceTempView("w27_cents")
    return spark.sql(
        """
        BEGIN
          DECLARE n BIGINT DEFAULT 0;
          DECLARE m BIGINT DEFAULT 0;
          DECLARE j INT DEFAULT 0;
          DECLARE p BIGINT DEFAULT 1;
          DECLARE cnt BIGINT DEFAULT 0;
          SET n = (SELECT COUNT(*) FROM w27_cents);
          SET m = (SELECT MIN(cents) FROM w27_cents);
          -- start at the smallest power of two ABOVE the minimum value
          -- (exact integer bit-length arithmetic): any 90%-covering
          -- threshold must exceed the smallest value, so every octave
          -- skipped here is provably below the answer — and every
          -- scripting statement is a round-trip, so closed-form beats
          -- a counting loop
          SET j = length(conv(m, 10, 2));
          SET p = shiftleft(1L, j);
          SET cnt = (SELECT COUNT(*) FROM w27_cents WHERE cents < p);
          WHILE cnt * 10 < n * 9 DO
            SET j = j + 1;
            SET p = p * 2;
            SET cnt = (SELECT COUNT(*) FROM w27_cents WHERE cents < p);
          END WHILE;
          -- zero rows: no threshold exists; emit NO row (the oracle's
          -- HAVING COUNT(*) > 0 mirrors this — r7 edge sweep)
          IF n > 0 THEN
            SELECT CAST(j AS BIGINT) AS j, p AS threshold_cents,
                   cnt AS n_covered, n AS n_total;
          ELSE
            SELECT CAST(NULL AS BIGINT) AS j,
                   CAST(NULL AS BIGINT) AS threshold_cents,
                   CAST(NULL AS BIGINT) AS n_covered,
                   CAST(NULL AS BIGINT) AS n_total
            WHERE 1 = 0;
          END IF;
        END
        """
    )


# ---------------------------------------------------------------------------
# sql_identifier_dynamic
# ---------------------------------------------------------------------------
@register(
    "sql_identifier_dynamic",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def sql_identifier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL via the Spark 4 `IDENTIFIER(:param)` clause: the
    table AND the grouping column are runtime PARAMETERS, bound
    injection-safely (never string-interpolated into the query text) —
    how a metrics layer renders 'group revenue by <dimension> from
    <table>' requests [P — Spark IDENTIFIER clause]. The plan is
    identical to the static query (Catalyst resolves the identifier at
    analysis time — parameterization costs nothing at execution);
    `sql_parameterized` binds VALUES, this binds NAMES."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("w27_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:dim) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(IDENTIFIER(:measure)), 2) AS total
        FROM IDENTIFIER(:tbl) GROUP BY 1
        """,
        args={
            "tbl": "w27_orders",
            "dim": "o_orderpriority",
            "measure": "o_totalprice",
        },
    )


# ---------------------------------------------------------------------------
# sql_try_functions
# ---------------------------------------------------------------------------
@register(
    "sql_try_functions",
    oracle="""
    WITH dirty AS (
      SELECT event_id, user_id, value,
             CASE WHEN user_id % 5 = 0 THEN NULL
                  ELSE value / (user_id % 5) END AS safe_div,
             TRY_CAST(CASE WHEN event_id % 7 = 0
                           THEN CAST(user_id AS VARCHAR) || 'x'
                           ELSE CAST(user_id AS VARCHAR) END
                      AS BIGINT) AS safe_cast
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(safe_div) AS BIGINT) AS n_div_null,
           CAST(COUNT(*) - COUNT(safe_cast) AS BIGINT) AS n_cast_null,
           ROUND(SUM(safe_div), 4) AS div_sum,
           CAST(SUM(safe_cast) AS BIGINT) AS cast_sum
    FROM dirty
    """,
)
def sql_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic and casts — `try_divide` / `try_cast`
    return NULL instead of raising under ANSI mode, the discipline that
    keeps a 100 TB job from dying on row 3 billion because one record
    divides by zero or carries '12x' in a numeric field [P — Spark
    try_* function family; ANSI dialect]. The report counts how much
    data each failure mode silently drops (the thing to alert on —
    NULL-swallowing without accounting is how pipelines rot) and
    aggregates over the survivors. Dirt is synthesized arithmetically
    (every 5th user divides by zero, every 7th event's numeral is
    corrupted) so the oracle replays it with explicit CASE semantics —
    pinning that try_* equals the guarded form, per value."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dirty = e.select(
        "event_id",
        "user_id",
        "value",
        F.try_divide("value", F.col("user_id") % 5).alias("safe_div"),
        F.expr(
            "try_cast(CASE WHEN event_id % 7 = 0"
            " THEN concat(cast(user_id AS string), 'x')"
            " ELSE cast(user_id AS string) END AS BIGINT)"
        ).alias("safe_cast"),
    )
    return dirty.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("safe_div")).alias("n_div_null"),
        (F.count(F.lit(1)) - F.count("safe_cast")).alias("n_cast_null"),
        F.round(F.sum("safe_div"), 4).alias("div_sum"),
        F.sum("safe_cast").cast("bigint").alias("cast_sum"),
    )


# ---------------------------------------------------------------------------
# sql_distribute_cluster_by
# ---------------------------------------------------------------------------
@register("sql_distribute_cluster_by")  # rows-only: layout, not values
def sql_distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark SQL's physical-layout surface: `DISTRIBUTE BY` (hash
    repartition) + `SORT BY` (within-partition sort) — together the
    SQL spelling of `repartition().sortWithinPartitions()`, the layout
    step before bucketed writes, merge-friendly sinks, or any operator
    that wants co-located, locally-ordered input WITHOUT a global sort
    barrier. (CLUSTER BY = DISTRIBUTE BY + SORT BY on the same keys.)

    The key runs the SQL form and then VERIFIES the contract from the
    result itself: per-partition rows must be locally sorted by the
    SORT BY key and every event_type must land in exactly one
    partition — reported as a summary the suite pins. This is a
    layout demo (rows-only): the VALUES are just the events table."""
    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    ev.createOrReplaceTempView("sf_dist_events")
    laid = spark.sql(
        """
        SELECT event_type, event_id,
               spark_partition_id() AS pid
        FROM (
          SELECT * FROM sf_dist_events
          DISTRIBUTE BY event_type SORT BY event_type, event_id
        )
        """
    )
    # per-partition sortedness: event_id must be non-decreasing within
    # (pid, event_type) in physical row order — checked via a
    # monotonic-violation count computed per partition
    import pandas as pd

    def check(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            viol = 0
            for _, g in pdf.groupby("event_type", sort=False):
                viol += int((g.event_id.diff().dropna() < 0).sum())
            yield pd.DataFrame(
                {
                    "pid": [int(pdf.pid.iloc[0])],
                    "n_rows": [len(pdf)],
                    "n_types": [pdf.event_type.nunique()],
                    "sort_violations": [viol],
                }
            )

    per_part = laid.mapInPandas(
        check, "pid int, n_rows long, n_types int, sort_violations long"
    )
    return per_part.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("sort_violations").cast("bigint").alias("sort_violations"),
        F.sum("n_types").cast("bigint").alias("sum_types_over_parts"),
        F.count_distinct(F.col("pid")).cast("bigint").alias("n_distinct_pids"),
    )


# ---------------------------------------------------------------------------
# cast_decimal_money
# ---------------------------------------------------------------------------
@register(
    "cast_decimal_money",
    oracle="""
    WITH d AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
               AS net
      FROM lineitem
    )
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(net) AS VARCHAR) AS net_total,
           CAST(MIN(net) AS VARCHAR) AS net_min,
           CAST(MAX(net) AS VARCHAR) AS net_max
    FROM d GROUP BY flag ORDER BY flag
    """,
)
def cast_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL money arithmetic: price × (1 − discount) computed
    in DECIMAL(18,2)→(18,4) and summed EXACTLY — the financial-ledger
    requirement doubles cannot meet (float sums drift with partition
    order; decimal sums are associative integers underneath). Totals
    emit as canonical STRINGS so the hash compares the exact decimal
    rendering, not a float round-trip.

    Spark decimals aggregate as JVM-side unscaled longs/Int128 inside
    codegen; the only shuffle is the flag rollup carrying exact
    partials. The multiplication scale arithmetic (2+2 → checked cast
    back to 4) is pinned identical in both engines by the explicit
    CASTs — relying on implicit scale promotion is where engines
    diverge (Spark 18,2×18,2→37,4 vs DuckDB's width rules)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("decimal(18,4)")
        .alias("net"),
    )
    return (
        li.groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("net").cast("string").alias("net_total"),
            F.min("net").cast("string").alias("net_min"),
            F.max("net").cast("string").alias("net_max"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# reshape_unpivot_multi
# ---------------------------------------------------------------------------
@register(
    "reshape_unpivot_multi",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag AS flag,
             ROUND(SUM(l_extendedprice), 2) AS revenue,
             ROUND(SUM(l_quantity), 2) AS quantity,
             ROUND(AVG(l_discount), 6) AS avg_discount,
             COUNT(*) * 1.0 AS n_items
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, metric, ROUND(val, 4) AS value
    FROM wide
    UNPIVOT (val FOR metric IN (revenue, quantity, avg_discount, n_items))
    ORDER BY flag, metric
    """,
)
def reshape_unpivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure unpivot: a wide per-flag metrics row (revenue,
    quantity, avg discount, item count) melts into (flag, metric,
    value) long form — the reshape every metrics store and charting
    layer wants, and the multi-column generalization of
    `reshape_unpivot`'s single measure. Spark's native `unpivot` API
    maps to the same UNPIVOT clause DuckDB runs.

    The wide table is one grouped aggregate (k rows); the unpivot is a
    plan-level Expand over it — metadata work, no extra shuffle
    (plan-pinned)."""
    wide = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.round(F.sum("l_quantity"), 2).alias("quantity"),
            F.round(F.avg("l_discount"), 6).alias("avg_discount"),
            (F.count(F.lit(1)) * 1.0).alias("n_items"),
        )
    )
    long = wide.unpivot(
        ids=["flag"],
        values=["revenue", "quantity", "avg_discount", "n_items"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    # SQL-standard UNPIVOT (and DuckDB's) EXCLUDES NULL cells; Spark's
    # unpivot keeps them — align by dropping NULL values (r8 nullmix
    # sweep: an all-NULL metric in a group diverged row counts)
    return (
        long.filter(F.col("val").isNotNull())
        .select("flag", "metric", F.round("val", 4).alias("value"))
        .orderBy("flag", "metric")
    )


# ---------------------------------------------------------------------------
# sql_lateral_alias
# ---------------------------------------------------------------------------
@register(
    "sql_lateral_alias",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net,
           ROUND(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                 / COUNT(*), 4) AS net_per_item,
           ROUND(ROUND(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       / COUNT(*), 4) * 1.1, 4) AS net_per_item_taxed
    FROM lineitem GROUP BY l_returnflag ORDER BY flag
    """,
)
def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases — referencing a SELECT-list alias later
    in the SAME select (`net` → `net_per_item` → `net_per_item_taxed`):
    the Spark 3.4+ SQL surface that kills the nested-subquery-per-
    derived-column pattern ETL SQL used to need. The oracle spells the
    chain out expanded (DuckDB resolves the aliases the same way; the
    expansion proves the SEMANTICS: each step sees the previous alias's
    already-rounded value, not a re-derivation).

    Analysis-time sugar: the chain folds into one projection over one
    partial+final aggregate — the plan is identical to the hand-
    expanded form (single Exchange pinned)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("sf_lat_li")
    return spark.sql(
        """
        SELECT l_returnflag AS flag,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net,
               ROUND(net / COUNT(*), 4) AS net_per_item,
               ROUND(net_per_item * 1.1, 4) AS net_per_item_taxed
        FROM sf_lat_li GROUP BY l_returnflag ORDER BY flag
        """
    )


# ---------------------------------------------------------------------------
# filter_nfdump_extended
# ---------------------------------------------------------------------------

#: One widened-flow derivation, written twice: Spark columns in
#: ``ext_flows_from_events`` and the byte-equivalent DuckDB SQL here.
#: Deterministic modular arithmetic over the REAL events parquet — the
#: key's own fixture generator (SURVEY §17.2 #1: "ships its own widened
#: fixture"; the §1.2 contract stays frozen). The r9 dress rehearsal
#: (tests/test_nffilter.py) imports both sides from here.
EXT_DERIVE_SQL = """
    SELECT event_id,
           CAST(64512 + user_id  % 16  AS INT) AS sas,
           CAST(64512 + event_id % 128 AS INT) AS das,
           CAST(event_id % 4 * 8 AS INT)       AS stos,
           CAST(user_id  % 4 * 8 AS INT)       AS dtos,
           CAST(event_id % 8 AS INT)           AS input,
           CAST(user_id  % 8 AS INT)           AS output,
           CAST(event_id % 3 * 64 AS INT)      AS fwd,
           CASE WHEN event_id % 2 = 0 THEN 'TCP' ELSE 'UDP' END AS pr,
           CAST(1024 + event_id % 50000 AS INT) AS sp,
           CAST(CASE event_id % 3 WHEN 0 THEN 443 WHEN 1 THEN 80
                ELSE 53 END AS INT)             AS dp
    FROM events
"""

#: (nfdump filter text, equivalent DuckDB predicate) — every extended
#: primary exercised at least once: tos (src/dst), as (src/any/negated),
#: if (in/out/any), fwdstat, mixed with standard proto/port primaries.
#: Each extended comparison is wrapped COALESCE(cmp, FALSE) to mirror
#: the engine's per-comparison two-valued contract (nffilter.py
#: `two_valued`; nfdump's filter language has no NULLs) — without it,
#: `not as`/`not out if` silently drop NULL-field rows under SQL
#: three-valued logic (nullmix edge mode). pr/dp derive from the
#: non-null primary key, so the standard primaries stay bare.
EXT_CASES: list[tuple[str, str]] = [
    (
        "src as 64512 and out if 0",
        "COALESCE(sas = 64512, FALSE) AND COALESCE(output = 0, FALSE)",
    ),
    (
        "dst tos > 8 or fwdstat 64",
        "COALESCE(dtos > 8, FALSE) OR COALESCE(fwd = 64, FALSE)",
    ),
    (
        "as 64513",
        "(COALESCE(sas = 64513, FALSE) OR COALESCE(das = 64513, FALSE))",
    ),
    (
        "not as 64513",
        "NOT (COALESCE(sas = 64513, FALSE) OR COALESCE(das = 64513, FALSE))",
    ),
    ("in if 4 and proto tcp", "COALESCE(input = 4, FALSE) AND pr = 'TCP'"),
    ("if 3", "(COALESCE(input = 3, FALSE) OR COALESCE(output = 3, FALSE))"),
    (
        "tos 16 and dst port 443",
        "COALESCE(stos = 16, FALSE) AND dp = 443",
    ),
    (
        "fwdstat > 0 and not out if 7",
        "COALESCE(fwd > 0, FALSE) AND NOT COALESCE(output = 7, FALSE)",
    ),
]


def ext_flows_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of ``EXT_DERIVE_SQL`` — column-for-column."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        (F.lit(64512) + F.col("user_id") % 16).cast("int").alias("sas"),
        (F.lit(64512) + F.col("event_id") % 128).cast("int").alias("das"),
        (F.col("event_id") % 4 * 8).cast("int").alias("stos"),
        (F.col("user_id") % 4 * 8).cast("int").alias("dtos"),
        (F.col("event_id") % 8).cast("int").alias("input"),
        (F.col("user_id") % 8).cast("int").alias("output"),
        (F.col("event_id") % 3 * 64).cast("int").alias("fwd"),
        F.when(F.col("event_id") % 2 == 0, "TCP").otherwise("UDP").alias("pr"),
        (F.lit(1024) + F.col("event_id") % 50000).cast("int").alias("sp"),
        F.when(F.col("event_id") % 3 == 0, 443)
        .when(F.col("event_id") % 3 == 1, 80)
        .otherwise(53)
        .cast("int")
        .alias("dp"),
    )


def _ext_oracle() -> str:
    """Build the oracle from the SAME case list the engine compiles —
    one aggregate row over one scan, unpivoted with a VALUES ladder
    (the `stats_corr_matrix` oracle shape)."""
    aggs = []
    n_case, s_case, values = [], [], []
    for i, (text, pred) in enumerate(EXT_CASES):
        # COALESCE: DuckDB count_if over ZERO rows is NULL where Spark's
        # is 0 (§5.5 convention — the empty edge mode)
        aggs.append(f"CAST(COALESCE(count_if({pred}), 0) AS BIGINT) AS n{i}")
        aggs.append(
            f"CAST(SUM(CASE WHEN {pred} THEN CAST(event_id AS HUGEINT) END)"
            f" AS BIGINT) AS s{i}"
        )
        n_case.append(f"WHEN {i} THEN a.n{i}")
        s_case.append(f"WHEN {i} THEN a.s{i}")
        values.append(f"({i}, '{text}')")
    return f"""
    WITH f AS ({EXT_DERIVE_SQL}),
    a AS (
      SELECT {', '.join(aggs)}
      FROM f
    )
    SELECT p.predicate,
           CASE p.i {' '.join(n_case)} END AS n_matched,
           CASE p.i {' '.join(s_case)} END AS id_sum
    FROM a, (VALUES {', '.join(values)}) AS p(i, predicate)
    ORDER BY p.predicate
    """


@register("filter_nfdump_extended", oracle=_ext_oracle())
def filter_nfdump_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nfdump extended filter language end-to-end: tos / AS / interface
    / forwarding-status predicates (`compile_filter(extended=True)`,
    nfdump's published grammar) evaluated over the widened flow table
    derived deterministically from the events parquet, one summary row
    per filter text with its match count and exact match-set id sum.

    Plan shape: ONE scan of the fact table; all 8 compiled predicates
    run as parallel conditional aggregates (count_if + guarded SUM →
    map-side partials, a single 1-row exchange), then the row is
    unpivoted driver-free with `stack`. At 100 TB this is one pass over
    the corpus — per-predicate re-scans would be 8× the IO. The id sums
    accumulate in decimal(38,0) engine-side / HUGEINT oracle-side (the
    r9 hurst convention) with the final cast BIGINT — representable
    while Σ event_id < 2^63, the documented bound shared with
    `stats_ks_test.max_diff`.

    Degenerate-input parity: a global Spark aggregate emits its one row
    even over an EMPTY scan, and so does DuckDB's — both sides unpivot
    to 8 rows with n_matched = 0 (oracle count_if COALESCE-guarded,
    §5.5) and id_sum NULL (SUM over no rows). A NULL user_id (nullmix
    mode — the bad-exporter day) NULLs sas/dtos/output; the engine's
    extended primaries evaluate two-valued via coalesce(cmp, False)
    per the r9 nffilter contract, and the oracle predicates carry the
    SAME per-comparison COALESCE so negations agree."""
    flows = ext_flows_from_events(spark, sf_dir)
    aggs = []
    for i, (text, _pred) in enumerate(EXT_CASES):
        pred = compile_filter(text, extended=True)
        aggs.append(F.count_if(pred).alias(f"n{i}"))
        aggs.append(
            F.sum(
                F.when(pred, F.col("event_id").cast("decimal(38,0)"))
            )
            .cast("bigint")
            .alias(f"s{i}")
        )
    one = flows.agg(*aggs)
    stack = ", ".join(
        f"'{text}', n{i}, s{i}" for i, (text, _p) in enumerate(EXT_CASES)
    )
    return one.select(
        F.expr(
            f"stack({len(EXT_CASES)}, {stack})"
            " AS (predicate, n_matched, id_sum)"
        )
    ).orderBy("predicate")


# --- multiset set operations -------------------------------------------------
@register(
    "set_intersect_all",
    oracle="""
    SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
    INTERSECT ALL
    SELECT user_id, event_type FROM events WHERE event_id % 3 = 0
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset intersection keeping min(m, n)
    duplicates per row (§2.7's set ops are the DISTINCT forms; the ALL
    forms are what reconciliation queries need, where duplicate COUNTS
    carry meaning). Planned as one hash shuffle per side + a counted
    merge — same cost shape as the distinct form, no dedup pass."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    a = e.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type")
    b = e.filter(F.col("event_id") % 3 == 0).select("user_id", "event_type")
    return a.intersectAll(b)


@register(
    "set_except_all",
    oracle="""
    SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
    EXCEPT ALL
    SELECT user_id, event_type FROM events WHERE event_id % 3 = 0
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference keeping max(m − n, 0) copies:
    the 'what rows did the rewrite lose, counted' audit (a DISTINCT
    except hides lost duplicates entirely — exactly the rows a dedup
    bug eats). Same one-shuffle-per-side counted-merge plan as
    INTERSECT ALL."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    a = e.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type")
    b = e.filter(F.col("event_id") % 3 == 0).select("user_id", "event_type")
    return a.exceptAll(b)


# --- modern SQL surface: SELECT * EXCEPT -------------------------------------
@register(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (l_comment_len, l_orderkey)
    FROM (
      SELECT l_orderkey, l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c,
             CAST(0 AS BIGINT) AS l_comment_len
      FROM lineitem GROUP BY 1, 2, 3
    )
    WHERE l_orderkey < 100
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT * EXCEPT (cols)` — the Spark 4 projection shorthand that
    makes wide-table pipelines writable (drop the join keys and helper
    columns without enumerating 300 survivors). DuckDB spells it
    EXCLUDE; the semantic is identical and the oracle uses it, so the
    key also pins cross-dialect agreement of the feature. Column
    pruning still reaches the scan — EXCEPT is resolved at analysis
    time, not a runtime projection."""
    from ..catalog import table as _table

    li = _table(spark, sf_dir, "lineitem")
    li.groupBy("l_orderkey", "l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c"),
    ).withColumn("l_comment_len", F.lit(0).cast("bigint")).createOrReplaceTempView(
        "star_except_base"
    )
    return spark.sql(
        "SELECT * EXCEPT (l_comment_len, l_orderkey) FROM star_except_base"
        " WHERE l_orderkey < 100"
    )


# --- modern SQL surface: GROUP BY ALL / ORDER BY ALL -------------------------
@register(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_c
    FROM lineitem GROUP BY ALL ORDER BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` + `ORDER BY ALL` — the modern-SQL ergonomics both
    Spark 4 and DuckDB ship (every non-aggregate select item groups;
    every column orders): the refactoring-safe spelling for wide
    reporting queries, where adding a dimension cannot silently desync
    the GROUP BY list. Identical text runs on both engines — the key
    pins cross-dialect agreement. Resolution is analysis-time; the
    plan is the ordinary partial+final agg (QUALIFY, for contrast, is
    NOT in Spark 4.1 — `join_lateral`/`topk_per_group` cover that
    shape with windows)."""
    from ..catalog import table as _table

    _table(spark, sf_dir, "lineitem").createOrReplaceTempView("gba_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM gba_lineitem GROUP BY ALL ORDER BY ALL
        """
    )
