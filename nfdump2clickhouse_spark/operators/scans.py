"""Scan, source, sink and streaming operators (SURVEY §2.1, §2.9).

Each rows-only streaming key runs a REAL StreamingQuery end-to-end
(streaming/pipeline.py) on temp dirs. Retention and table maintenance
(``maint_*``: compaction, statistics, layout) live here too.
"""

from __future__ import annotations

import os
import tempfile
from datetime import date

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..registry import register
from ..sources.flows import read_flow_csv, write_flow_files
from ..sources.sinks import drop_expired_partitions, write_flows_partitioned
from ..streaming import pipeline as sp


# --- upsert / merge ----------------------------------------------------------
@register(
    "merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, ROUND(c_acctbal + 100, 4) AS acctbal, 'updated' AS src
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 0.0, 'inserted' FROM customer
      WHERE c_custkey % 50 = 0
    )
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           ROUND(COALESCE(u.acctbal, b.c_acctbal), 4) AS acctbal,
           COALESCE(u.src, 'unchanged') AS src
    FROM customer b FULL JOIN updates u ON b.c_custkey = u.c_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE/upsert semantics (update-matched, insert-unmatched,
    keep-rest) composed from a full outer join + coalesce — the
    row-level-update primitive plain parquet lacks (ClickHouse gets it
    from ReplacingMergeTree merges [P]; lakehouse formats from MERGE).
    One shuffle per side on the key; applied per dt= partition in
    production so a trickle of updates never rewrites the whole table."""
    c = table(spark, sf_dir, "customer")
    updates = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") + 100, 4).alias("acctbal"),
            F.lit("updated").alias("src"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit(0.0).alias("acctbal"),
                F.lit("inserted").alias("src"),
            )
        )
    )
    b = c.select("c_custkey", "c_acctbal")
    u = updates.withColumnRenamed("c_custkey", "u_key")
    return b.join(u, b.c_custkey == u.u_key, "full").select(
        F.coalesce("u_key", "c_custkey").alias("c_custkey"),
        F.round(F.coalesce("acctbal", "c_acctbal"), 4).alias("acctbal"),
        F.coalesce("src", F.lit("unchanged")).alias("src"),
    )


# --- change-data-capture: SCD type 2 -----------------------------------------
@register(
    "cdc_scd2",
    oracle="""
    WITH x AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
             LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      FROM events
    ), ch AS (
      SELECT user_id, event_type, us, event_id FROM x
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           ROW_NUMBER() OVER
             (PARTITION BY user_id ORDER BY us, event_id) AS version,
           us AS valid_from_us,
           COALESCE(LEAD(us) OVER
             (PARTITION BY user_id ORDER BY us, event_id), 0) AS valid_to_us
    FROM ch
    """,
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change stream: per
    user, collapse consecutive same-state events and emit versioned
    validity intervals [valid_from, valid_to) — the standard dimension-
    history shape a warehouse merge produces, derived here in one pass
    with lag (change detection) + lead (interval close). 0 sentinel for
    the open current interval (NULL would hash differently per engine).

    Scale: two window passes over the same (user_id) partitioning — one
    shuffle total, since Catalyst reuses the sort/exchange for windows
    with identical partitioning and compatible ordering. State never
    leaves the executor; no self-join against the dimension."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    x = e.select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    ).withColumn("prev", F.lag("event_type").over(w))
    ch = x.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    return ch.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("version"),
        F.col("us").alias("valid_from_us"),
        F.coalesce(F.lead("us").over(w), F.lit(0)).alias("valid_to_us"),
    )


# --- Z-order data layout -----------------------------------------------------
_ZBITS = 8


def _z_sql(a: str, b: str) -> str:
    """DuckDB expression interleaving the low 8 bits of a (even positions)
    and b (odd positions) — textually mirrored by `_z_col`."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"(((({a} % 256) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({b} % 256) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _z_col(a, b):
    a, b = F.pmod(a, F.lit(256)), F.pmod(b, F.lit(256))
    out = F.lit(0)
    for i in range(_ZBITS):
        out = out + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        out = out + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return out


@register(
    "zorder_layout",
    oracle=f"""
    SELECT {_z_sql('l_partkey', 'l_suppkey')} >> 8 AS z_bucket,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS qty_sum
    FROM lineitem
    GROUP BY 1
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two
    dimensions so a lexicographic sort co-locates 2-D neighborhoods —
    the layout trick behind Delta OPTIMIZE ZORDER BY. Sorting a 100 TB
    table by z(l_partkey, l_suppkey) lets parquet row-group min/max
    stats skip IO for BOTH `partkey BETWEEN..` and `suppkey BETWEEN..`
    boxes, where a plain sort serves only its leading column
    (tests/test_plans.py pins the skip-rate win on real files).

    The key itself is scan-local codegen'd bit arithmetic (zero shuffle);
    this query folds it into per-z-bucket stats to hash-check the
    interleave exactly against the oracle."""
    li = table(spark, sf_dir, "lineitem")
    z = _z_col(F.col("l_partkey"), F.col("l_suppkey"))
    return (
        li.select(F.shiftright(z, 8).alias("z_bucket"), "l_quantity")
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("qty_sum"),
        )
    )


# --- snapshot reconciliation -------------------------------------------------
@register(
    "snapshot_diff",
    oracle="""
    WITH b AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 13 = 0 THEN value + 1 ELSE value END AS value
      FROM events WHERE event_id % 17 <> 0
      UNION ALL
      SELECT event_id + 10000000, event_type, value
      FROM events WHERE event_id % 19 = 0
    ),
    d AS (
      SELECT COALESCE(a.event_type, b.event_type) AS event_type,
             CASE WHEN a.event_id IS NULL THEN 'added'
                  WHEN b.event_id IS NULL THEN 'removed'
                  WHEN a.value <> b.value THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM events a FULL OUTER JOIN b ON a.event_id = b.event_id
    )
    SELECT event_type, change, COUNT(*) AS n
    FROM d GROUP BY event_type, change
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify every row across two table
    versions as added / removed / changed / unchanged — the audit primitive
    behind CDC backfills and the 'did the rewrite change anything?'
    check after a pipeline migration. Snapshot B is derived from A with
    deterministic rules (drop %17, bump value %13, insert %19 clones) so
    both engines build the identical pair.

    Scale shape: ONE full-outer sort-merge join keyed on the primary key
    — both snapshots shuffle once on event_id, the change column is a
    row-local CASE, and the per-(type, change) rollup is a second tiny
    agg. Row-level hash compare (md5 of concatenated values) replaces
    the single-column compare when schemas are wide; same plan."""
    a = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = table(spark, sf_dir, "events")
    b = (
        src.filter(F.col("event_id") % 17 != 0)
        .select(
            "event_id",
            "event_type",
            F.when(F.col("event_id") % 13 == 0, F.col("value") + 1)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        .unionAll(
            src.filter(F.col("event_id") % 19 == 0).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "event_type",
                "value",
            )
        )
    )
    bb = b.select(
        F.col("event_id").alias("b_id"),
        F.col("event_type").alias("b_type"),
        F.col("value").alias("b_value"),
    )
    d = a.join(bb, a.event_id == bb.b_id, "full_outer").select(
        F.coalesce("event_type", "b_type").alias("event_type"),
        F.when(F.col("event_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("value") != F.col("b_value"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return d.groupBy("event_type", "change").agg(F.count(F.lit(1)).alias("n"))


# --- ORC round-trip ----------------------------------------------------------
@register("scan_orc")  # rows-only: DuckDB has no ORC reader, so the check
# is Spark-side round-trip (the parquet-path agg is the cross-engine twin)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: write the events table as ORC
    (zlib, Spark's native vectorized writer), read it back, and
    aggregate — exercising the second columnar format the reference's
    warehouse world expects alongside parquet (§2.1). Predicate pushdown
    and column pruning work identically (ORC stripes ≈ parquet row
    groups); the round-trip agg equals the parquet-side answer, which
    the driver hash-checks via `agg_groupby_time` and friends."""
    base = tempfile.mkdtemp(prefix="sf_orc_")
    path = os.path.join(base, "events_orc")
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    e.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


# --- schema evolution --------------------------------------------------------
@register("scan_schema_evolution")  # rows-only: temp-file layout; the
# invariants (unified schema, null back-fill) are pinned in tests
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: batch 1 writes
    (event_id, value), batch 2 adds a `quality` column; reading the
    directory with mergeSchema=true yields the unified schema with NULL
    back-fill for pre-evolution files — the append-only table lifecycle
    every long-lived ingest hits (the reference's at-rest table gains
    columns across nfdump versions [P §1.2]).

    Scale note: mergeSchema reconciles FOOTERS (one per file), not data;
    production tables pin the merged schema in a metastore instead of
    re-merging per query — the read path after that is identical."""
    base = tempfile.mkdtemp(prefix="sf_evo_")
    path = os.path.join(base, "t")
    e = table(spark, sf_dir, "events")
    e.select("event_id", "value").filter(F.col("event_id") % 2 == 0).write.mode(
        "overwrite"
    ).parquet(path)
    e.select(
        "event_id", "value", (F.col("value") * 2).alias("quality")
    ).filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("quality").alias("n_evolved"),
        (F.count(F.lit(1)) - F.count("quality")).alias("n_backfilled"),
        F.lit(len(merged.columns)).alias("n_cols"),
    )


# --- malformed-input handling ------------------------------------------------
@register("scan_csv_malformed")  # rows-only: corrupt-record semantics are
# engine-specific by design (DuckDB's CSV error model differs)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV handling, the operational reality of `nfdump -o csv`
    pipes (truncated rotations, mid-write reads): PERMISSIVE mode loads
    every line, routing unparseable ones into _corrupt_record instead of
    failing the 100 TB job at file 99 of 100 — vs DROPMALFORMED
    (silently narrower) and FAILFAST (the default disaster). Emits the
    audit row: total/good/corrupt under PERMISSIVE and the DROPMALFORMED
    row count, which is the quarantine report the service logs per
    rotation."""
    base = tempfile.mkdtemp(prefix="sf_csv_")
    p = os.path.join(base, "rows.csv")
    good = [f"{i},2024-03-01 00:0{i % 10}:00,{i * 10}" for i in range(20)]
    bad = ["not_an_int,xx,yy", "7,2024-03-01 00:00:00", "8,bad_ts,oops,extra"]
    with open(p, "w") as f:
        f.write("\n".join(good[:10] + bad[:2] + good[10:] + bad[2:]) + "\n")
    schema = (
        "event_id INT, ts TIMESTAMP, amount INT, _corrupt_record STRING"
    )
    perm = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(p)
        .cache()  # required: corrupt-record column is unstable across
        # re-scans of an un-cached CSV relation (Spark documents this)
    )
    n_total = perm.count()
    n_corrupt = perm.filter(F.col("_corrupt_record").isNotNull()).count()
    # collect(), not count(): CSV count() prunes ALL columns, the parser
    # never runs, and DROPMALFORMED silently counts the bad rows too
    # (documented Spark behavior)
    n_dropped = len(
        spark.read.schema("event_id INT, ts TIMESTAMP, amount INT")
        .option("mode", "DROPMALFORMED")
        .csv(p)
        .collect()
    )
    return spark.createDataFrame(
        [(n_total, n_total - n_corrupt, n_corrupt, n_dropped)],
        "n_total long, n_good long, n_corrupt long, n_dropmalformed long",
    )


@register(
    "scan_csv_multiline_quoted",
    oracle="""
    WITH s AS (
      SELECT l_orderkey, l_linenumber,
             'note for ' || CAST(l_orderkey AS VARCHAR) || chr(10)
             || 'line "' || CAST(l_linenumber AS VARCHAR) || '", with, commas'
               AS note
      FROM lineitem
      WHERE (l_orderkey * 2654435761) % 4294967296 % 100 < 5
    )
    SELECT l_orderkey, l_linenumber,
           CAST(LENGTH(note) AS BIGINT) AS note_len,
           CAST(LENGTH(note) - LENGTH(REPLACE(note, ',', '')) AS BIGINT)
             AS n_commas,
           CAST(LENGTH(note) - LENGTH(REPLACE(note, chr(10), '')) AS BIGINT)
             AS n_newlines
    FROM s
    """,
)
def scan_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 quoting round-trip: a CSV whose quoted fields embed
    newlines, double quotes, and commas — the classic silent ingest
    breaker (a non-multiLine reader splits records mid-field and
    corrupts every following row). The engine WRITES the file with
    Python's csv module (strict RFC quoting), reads it back with
    Spark's multiLine CSV source, and reports per-row content
    measurements that the oracle recomputes relationally from the same
    deterministic construction — so any parse drift (lost newline,
    doubled quote, split row) breaks the hash.

    Scale note: multiLine=true makes a CSV file unsplittable (records
    can span arbitrary byte ranges), so production keeps such files at
    rotation size — exactly the nfcapd-style one-file-per-5-min layout
    the service stages; the option cost is documented, not hidden."""
    import csv as _csv

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .filter(
            (F.col("l_orderkey") * F.lit(2654435761)) % F.lit(4294967296) % 100
            < 5
        )
        .collect()
    )
    d = tempfile.mkdtemp(prefix="sf_csvml_")
    path = os.path.join(d, "notes.csv")
    with open(path, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["l_orderkey", "l_linenumber", "note"])
        for r in li:
            note = (
                f"note for {r.l_orderkey}\n"
                f'line "{r.l_linenumber}", with, commas'
            )
            w.writerow([r.l_orderkey, r.l_linenumber, note])
    got = (
        spark.read.schema("l_orderkey long, l_linenumber int, note string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')  # RFC 4180 doubles quotes; escape char = quote
        .csv(path)
    )
    return got.select(
        "l_orderkey",
        "l_linenumber",
        F.length("note").cast("bigint").alias("note_len"),
        (
            F.length("note") - F.length(F.replace(F.col("note"), F.lit(",")))
        )
        .cast("bigint")
        .alias("n_commas"),
        (
            F.length("note") - F.length(F.replace(F.col("note"), F.lit("\n")))
        )
        .cast("bigint")
        .alias("n_newlines"),
    )


@register("maint_rowgroup_skipping")  # rows-only: engine-reported scan
# metrics; the sorted<unsorted skipping contract is pinned in tests
def maint_rowgroup_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED row-group skipping — the proof behind the MergeTree
    sparse-index analogy (SURVEY §4.3.1): the same flow data written
    sorted-by-(sa_num) vs unsorted, scanned under the same narrow
    address-range predicate, reporting each scan's OWN numOutputRows
    metric (rows the parquet reader actually emitted after min/max
    row-group pruning). On the sorted layout matching rows concentrate
    in few row groups and the reader skips the rest; unsorted, every
    row group straddles the range and nothing skips. This converts the
    layout claim the plan tests assert structurally into an engine-
    reported number (`observe_metrics` discipline: read the engine's
    telemetry, don't re-derive it).

    Scale note: small parquet.block.size here only makes the effect
    visible on a fixture-sized file; at production block sizes the
    mechanism is identical — it is exactly what
    `write_flows_partitioned`'s sortWithinPartitions buys."""
    from ..functions.ip import ipv4_to_num
    from ..schemas import FLOWS
    from ..sources.flows import write_flow_files

    src = tempfile.mkdtemp(prefix="sf_rgskip_src_")
    write_flow_files(spark, src, n_files=2, rows_per_file=4000)
    raw = spark.read.schema(FLOWS).parquet(os.path.join(src, "*")).withColumns(
        {"sa_num": ipv4_to_num(F.col("sa"))}
    )
    layouts = {}
    for name, df in (
        ("sorted", raw.repartition(1).sortWithinPartitions("sa_num")),
        ("unsorted", raw.repartition(1)),
    ):
        out = os.path.join(tempfile.mkdtemp(prefix="sf_rgskip_"), "t")
        df.write.option("parquet.block.size", 64 * 1024).parquet(out)
        layouts[name] = out

    def measure(path):
        q = (
            spark.read.parquet(path)
            .filter(
                (F.col("sa_num") >= 167772160) & (F.col("sa_num") < 167772260)
            )
            .select("sa", "ipkt")
        )
        n_result = len(q.collect())
        leaf = q._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        n_scan = int(leaf.metrics().apply("numOutputRows").value())
        return n_scan, n_result

    rows = []
    for name, path in layouts.items():
        n_scan, n_result = measure(path)
        rows.append((name, n_scan, n_result))
    return spark.createDataFrame(
        rows, "layout string, scan_rows bigint, result_rows bigint"
    )


# ---------------------------------------------------------------------------
# maint_skew_report
# ---------------------------------------------------------------------------
_SKEW_BUCKETS = 32


@register(
    "maint_skew_report",
    oracle=f"""
    WITH freq AS (
      SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS f
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(f) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(f) AS BIGINT) AS max_f, CAST(MIN(f) AS BIGINT) AS min_f
      FROM freq
    ),
    topten AS (
      SELECT CAST(SUM(f) AS BIGINT) AS top10_f
      FROM (SELECT f FROM freq ORDER BY f DESC, k LIMIT 10)
    ),
    part AS (
      SELECT CAST(MAX(pf) AS BIGINT) AS max_part,
             CAST(MIN(pf) AS BIGINT) AS min_part
      FROM (SELECT k % {_SKEW_BUCKETS} AS p, SUM(f) AS pf
            FROM freq GROUP BY 1)
    )
    SELECT t.n_rows, t.n_keys, t.max_f, t.min_f,
           CAST(t.max_f * t.n_keys * 10000 // t.n_rows AS BIGINT)
             AS max_over_avg_e4,
           CAST(tt.top10_f * 1000000 // t.n_rows AS BIGINT)
             AS top10_share_e6,
           CAST(p.max_part * 10000 // greatest(p.min_part, 1) AS BIGINT)
             AS bucket_balance_e4
    FROM tot t, topten tt, part p
    """,
)
def maint_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for `lineitem.l_suppkey` — the report
    run BEFORE a 100 TB join to decide whether to salt
    (`join_skew_salted`), bump AQE skew thresholds, or bucket: key
    cardinality, max/avg frequency ratio, top-10 heavy-hitter share,
    and the max/min load ratio across {_SKEW_BUCKETS} modulo buckets (a
    deterministic stand-in for hash-partition balance — cross-engine,
    unlike engine hash functions). One key-frequency aggregation (the
    only data-sized shuffle); everything downstream is arithmetic on
    the key-frequency table; the top-10 is TakeOrderedAndProject; all
    ratios are exact integers."""
    li = table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("f")
    ).localCheckpoint(eager=False)  # three bounded consumers below
    tot = freq.agg(
        F.sum("f").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("f").alias("max_f"),
        F.min("f").alias("min_f"),
    )
    topten = (
        freq.orderBy(F.desc("f"), "k")
        .limit(10)
        .agg(F.sum("f").alias("top10_f"))
    )
    part = (
        freq.groupBy((F.col("k") % _SKEW_BUCKETS).alias("p"))
        .agg(F.sum("f").alias("pf"))
        .agg(F.max("pf").alias("max_part"), F.min("pf").alias("min_part"))
    )
    return (
        tot.crossJoin(F.broadcast(topten))  # 1-row x 1-row
        .crossJoin(F.broadcast(part))
        .select(
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("max_f").cast("bigint").alias("max_f"),
            F.col("min_f").cast("bigint").alias("min_f"),
            F.expr("CAST(max_f * n_keys * 10000 DIV n_rows AS BIGINT)").alias(
                "max_over_avg_e4"
            ),
            F.expr("CAST(top10_f * 1000000 DIV n_rows AS BIGINT)").alias(
                "top10_share_e6"
            ),
            F.expr(
                "CAST(max_part * 10000 DIV greatest(min_part, 1L) AS BIGINT)"
            ).alias("bucket_balance_e4"),
        )
    )


# ---------------------------------------------------------------------------
# maint_cache_inmemory
# ---------------------------------------------------------------------------
@register(
    "maint_cache_inmemory",
    oracle="""
    WITH hot AS (
      SELECT o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderstatus <> 'F'
    ),
    a AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM hot GROUP BY 1
    ),
    b AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs FROM hot
    )
    SELECT a.o_orderstatus, a.n, a.revenue, b.n_custs FROM a, b
    """,
)
def maint_cache_inmemory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit `.cache()` reuse: a filtered projection consumed by TWO
    aggregates materializes ONCE in executor memory — both consumers
    plan `InMemoryTableScan` (plan-pinned), the parquet scan runs a
    single time, and the cached columnar batches serve both (Spark's
    in-memory materialization tier; `maint_compaction` is the on-disk
    one, `localCheckpoint` the lineage-cutting one — this key completes
    the triple). The cached blocks are MEMORY_AND_DISK and LRU-evicted
    by the block manager, so repeated runs do not accumulate state. At
    100 TB the same pattern holds per-stage: cache what fans out, size
    it by the PROJECTED columns only (the reason the projection
    precedes the cache)."""
    o = table(spark, sf_dir, "orders")
    hot = (
        o.filter(F.col("o_orderstatus") != "F")
        .select("o_custkey", "o_totalprice", "o_orderstatus")
        .cache()
    )
    a = hot.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    b = hot.agg(F.count_distinct("o_custkey").alias("n_custs"))
    return a.crossJoin(F.broadcast(b))  # bounded x 1-row


# ---------------------------------------------------------------------------
# scan_text_regex_parse
# ---------------------------------------------------------------------------
_LOG_RE = r"^(\d{4}-\d{2}-\d{2}) level=(\w+) user=(\d+) msg=\"([^\"]*)\"$"


@register("scan_text_regex_parse")  # rows-only: reads a generated temp
# file (the driver's DuckDB session sees only the registered views);
# parse-vs-source reconciliation is pinned in tests
def scan_text_regex_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw log ingestion: `spark.read.text` over unstructured lines +
    `regexp_extract` field parsing + malformed-line accounting — the
    entry path for logs that are neither CSV nor JSON (auth logs,
    app logs, legacy syslog). Lines are generated deterministically
    from the events table (1 line per event, every 13th line corrupted)
    so tests reconcile parsed fields against the source exactly.

    Parsing is scan-local regexp in codegen (one pass, no UDF);
    malformed lines are COUNTED, never dropped silently (the
    `sql_try_functions` accounting discipline); the one aggregation
    rolls up by level. At 100 TB this is `spark.read.text` over a
    rotated log directory — the same two-stage plan."""
    e = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id", "event_id", "event_type"
    )
    lines = e.select(
        F.when(
            F.col("event_id") % 13 == 0,
            F.concat(F.lit("CORRUPT "), F.col("event_id").cast("string")),
        )
        .otherwise(
            F.format_string(
                '%s level=%s user=%d msg="%s"',
                F.date_format("d", "yyyy-MM-dd"),
                F.upper(F.substring("event_type", 1, 4)),
                "user_id",
                "event_type",
            )
        )
        .alias("value")
    )
    d = tempfile.mkdtemp(prefix="sf_rawlog_")
    lines.coalesce(2).write.mode("overwrite").text(os.path.join(d, "logs"))
    raw = spark.read.text(os.path.join(d, "logs"))
    parsed = raw.select(
        F.regexp_extract("value", _LOG_RE, 1).alias("day"),
        F.regexp_extract("value", _LOG_RE, 2).alias("level"),
        F.regexp_extract("value", _LOG_RE, 3).alias("user"),
        F.regexp_extract("value", _LOG_RE, 4).alias("msg"),
    )
    return (
        parsed.withColumn("ok", F.col("level") != "")
        .groupBy(F.when(F.col("ok"), F.col("level")).otherwise("_MALFORMED").alias("level"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct(
                F.when(F.col("ok"), F.col("user"))
            ).alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# maint_analyze_stats
# ---------------------------------------------------------------------------
@register("maint_analyze_stats")  # rows-only: NDV is an engine sketch
# estimate; exact-count + NDV-bounds contracts are pinned in tests
def maint_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost-based-optimizer statistics surface: `ANALYZE TABLE ...
    COMPUTE STATISTICS FOR COLUMNS` on a saved table, then read the
    catalog back (`DESCRIBE EXTENDED <col>`) — row counts and
    per-column NDV/min/max, the numbers Catalyst's CBO feeds on for
    join reordering and broadcast decisions [P — Spark CBO]. At 100 TB
    ANALYZE is the cheap scan you run once per partition load so the
    optimizer stops guessing build sides.

    The table is a bounded projection saved to the session warehouse
    (same seam as `maint_compaction`); NDV comes from the engine's HLL
    sketch, so the key is rows-only with exact row-count and NDV
    error-bound contracts pinned in tests."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    tbl = "w28_stats_orders"
    # a managed-table LOCATION can survive from a previous session's
    # warehouse while being absent from this session's catalog — drop
    # both sides so overwrite never trips LOCATION_ALREADY_EXISTS
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), tbl), ignore_errors=True
    )
    o.write.mode("overwrite").saveAsTable(tbl)
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS"
        " FOR COLUMNS o_orderkey, o_custkey, o_orderstatus"
    )
    rows = []
    nrows = int(
        spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
        .filter(F.col("col_name") == "Statistics")
        .collect()[0]["data_type"]
        .split(",")[1]
        .strip()
        .split(" ")[0]
    )
    for c in ["o_orderkey", "o_custkey", "o_orderstatus"]:
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} {c}").collect()
        }
        rows.append(
            (
                c,
                nrows,
                int(desc.get("distinct_count", "0")),
                int(desc.get("num_nulls", "0")),
            )
        )
    return spark.createDataFrame(
        rows, "column STRING, n_rows BIGINT, ndv BIGINT, n_nulls BIGINT"
    )


# ---------------------------------------------------------------------------
# scan_text_wholefile
# ---------------------------------------------------------------------------
@register(
    "scan_text_wholefile",
    oracle="""
    WITH agg AS (
      SELECT source,
             string_agg(text, chr(10) ORDER BY doc_id) AS content
      FROM documents WHERE source IS NOT NULL GROUP BY source
    )
    SELECT source || '.txt' AS file_name,
           CAST(length(content) AS BIGINT) AS n_chars,
           md5(content) AS content_md5
    FROM agg ORDER BY file_name
    """,
)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion: materialize one .txt file per source
    (docs concatenated in doc_id order), read the directory back with
    `spark.read.text(wholetext=True)` — the one-record-per-FILE mode —
    and report per-file name, character count and content MD5. This is
    the corpus layout crawl dumps actually arrive in (one document per
    file), where line-mode `text` would shred records; the oracle
    recomputes the same checksums from the source table, so the
    write → whole-file read → checksum round-trip is hash-verified
    end-to-end.

    At 100 TB whole-file records require files ≲ a few hundred MB (a
    record cannot split); `binaryFile` + `mapInPandas` decode
    (`multimodal_binary`) is the documented escape hatch for larger
    blobs. The per-source concat is one collect of 20 small strings
    here; the read-back is a distributed whole-file scan.

    A NULL source names no file — pinned two-sided (the engine would
    otherwise stringify it into a 'None.txt' the oracle's NULL || '.txt'
    never produces; EDGE_SWEEP_r10 class C)."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .select("source", "doc_id", "text")
    )
    agg = (
        docs.groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s.text,
                ),
                "\n",
            ).alias("content")
        )
        .collect()
    )
    out_dir = tempfile.mkdtemp(prefix="sf_wholefile_")
    for row in agg:
        with open(os.path.join(out_dir, f"{row['source']}.txt"), "w") as fh:
            fh.write(row["content"])
    txt = spark.read.text(out_dir, wholetext=True)
    return (
        txt.select(
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("file_name"),
            F.length("value").cast("bigint").alias("n_chars"),
            F.md5(F.encode("value", "UTF-8")).alias("content_md5"),
        )
        .orderBy("file_name")
    )


# ---------------------------------------------------------------------------
# scan_csv_gzip
# ---------------------------------------------------------------------------
@register(
    "scan_csv_gzip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT))
                AS BIGINT) AS value_c
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV ingestion — the format scheduled exports
    actually deliver: write the events table as .csv.gz shards, read
    them back through Spark's codec-inferring CSV reader (extension-
    based, no option needed), and aggregate — the oracle recomputes
    the same rollup from the parquet source, so the
    encode → compress → decompress → parse round-trip is
    hash-verified end to end.

    The 100 TB caveat this key documents: a .gz file is NOT
    splittable — one file = one task regardless of size, so compressed
    delivery must arrive sharded (here: one shard per parallelism
    unit; `repartition` before write). Values travel as integer cents
    through the CSV text to dodge float-repr round-trip drift."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100)
        .cast("bigint")
        .alias("value_c"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="sf_csvgz_"), "events_csv")
    (
        ev.repartition(4)
        .write.mode("overwrite")
        .option("codec", "gzip")
        .option("header", True)
        .csv(out)
    )
    back = spark.read.option("header", True).csv(
        out, schema="event_id long, event_type string, value_c long"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value_c").cast("bigint").alias("value_c"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# scan_csv_column_drift
# ---------------------------------------------------------------------------
@register("scan_csv_column_drift")  # rows-only: demonstrates a read trap
def scan_csv_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV column-order drift trap, demonstrated and fixed: batch 1
    delivers (event_id, value), batch 2 delivers (value, event_id) —
    real exporters do this after 'harmless' upstream changes. Reading
    both with one user schema binds columns BY POSITION (header row or
    not), silently swapping batch 2's fields; the fix reads each batch
    with header inference and merges by NAME (`unionByName`). The key
    reports both pipelines' checksums against the truth — the broken
    path's corruption is visible, the fixed path reconciles exactly
    (suite-pinned).

    Per-batch header reads cost one extra file-open per batch (schema
    from the first line); unionByName is plan-level column alignment,
    zero data movement. The 100 TB note: schema drift belongs in a
    batch manifest, but ingestion must still survive it arriving
    unannounced."""
    import os
    import tempfile

    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100)
                .cast("bigint").alias("value_c"))
        .limit(2000)
        .localCheckpoint()
    )
    out = tempfile.mkdtemp(prefix="sf_drift_")
    b1 = os.path.join(out, "batch1")
    b2 = os.path.join(out, "batch2")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.select("event_id", "value_c").coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).csv(b1)
    half2.select("value_c", "event_id").coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).csv(b2)
    # BROKEN: one positional schema across both batches
    schema = "event_id long, value_c long"
    broken = spark.read.option("header", True).csv([b1, b2], schema=schema)
    # FIXED: infer per batch, merge by name
    f1 = spark.read.option("header", True).option("inferSchema", True).csv(b1)
    f2 = spark.read.option("header", True).option("inferSchema", True).csv(b2)
    fixed = f1.unionByName(f2)
    truth = ev.agg(
        F.sum("event_id").alias("id_sum"), F.sum("value_c").alias("v_sum")
    ).collect()[0]
    rows = []
    for name, df in [("positional_schema", broken), ("union_by_name", fixed)]:
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.sum("value_c").alias("v_sum"),
        ).collect()[0]
        rows.append(
            (
                name,
                int(agg["n"]),
                # empty batches sum to NULL; 0 keeps the checksum total
                # and lets 0==0 reconcile (r7 edge sweep)
                int(agg["id_sum"] or 0),
                int(agg["v_sum"] or 0),
                bool(
                    (agg["id_sum"] or 0) == (truth["id_sum"] or 0)
                    and (agg["v_sum"] or 0) == (truth["v_sum"] or 0)
                ),
            )
        )
    return spark.createDataFrame(
        rows,
        "pipeline string, n long, id_sum long, v_sum long, reconciles boolean",
    )


# ---------------------------------------------------------------------------
# scan_fixed_width
# ---------------------------------------------------------------------------
@register(
    "scan_fixed_width",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM events WHERE event_id < 5000 AND event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text ingestion — the mainframe/legacy-export record
    layout (no delimiters; fields live at byte offsets): events render
    to 10+12+12-char records, write as plain text, read back with
    `spark.read.text` + substring slicing, and the rollup is
    hash-verified against the parquet source — the full
    render → write → slice → parse round-trip. COBOL copybooks and
    telecom CDR feeds still arrive exactly like this.

    Rendering is `format_string`/`lpad` codegen; parsing back is
    `substring` + cast codegen — both scan-local, no UDF; plain text
    splits by line so the read parallelizes normally (unlike
    `scan_text_wholefile`'s record-per-file mode). Integer cents
    through the text (`scan_csv_gzip` discipline)."""
    import os
    import tempfile

    ev = (
        table(spark, sf_dir, "events")
        # NULL-type records are rejects in a fixed-width export (the
        # concat'd line would be NULL end-to-end and read back as an
        # unparseable empty line — r8 nullmix sweep); gate both sides
        .filter((F.col("event_id") < 5000) & F.col("event_type").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    line = F.concat(
        F.lpad(F.col("event_type"), 10, " "),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
        F.lpad(F.col("cents").cast("string"), 12, "0"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="sf_fw_"), "records")
    ev.select(line.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.trim(F.substring("value", 1, 10)).alias("event_type"),
        F.substring("value", 11, 12).cast("bigint").alias("event_id"),
        F.substring("value", 23, 12).cast("bigint").alias("cents"),
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# sink_dynamic_partition_overwrite
# ---------------------------------------------------------------------------
@register("sink_dynamic_partition_overwrite")  # rows-only: write-path demo
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the write mode behind idempotent
    daily re-runs: with `partitionOverwriteMode=dynamic`, an overwrite
    replaces ONLY the partitions present in the incoming batch and
    leaves every other partition untouched (STATIC mode — the default —
    would wipe the whole table first, the classic
    lost-my-history incident). Demo: write 5 event-type partitions,
    re-run a corrected 'purchase' batch, verify purchase changed and
    the other four are byte-identical in row counts and checksums.

    The mode is set per-write via the DataFrameWriter option (never
    session-wide — the driver's vanilla session must not be mutated);
    partition pruning serves the verification reads, so each check
    scans one directory."""
    import os
    import tempfile

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(
            "event_id",
            "event_type",
            F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .localCheckpoint()
    )
    if ev.isEmpty():
        # nothing to write: a zero-partition table cannot demonstrate the
        # mode, and reading it back cannot infer a schema (r7 edge sweep)
        return spark.createDataFrame(
            [],
            "event_type string, rows_before bigint, rows_after bigint,"
            " rows_intact boolean, sums_intact boolean",
        )
    out = os.path.join(tempfile.mkdtemp(prefix="sf_dpo_"), "tbl")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # MATERIALIZE the before-state: a lazy frame would re-read the
    # table after the overwrite replaced its files (FAILED_READ_FILE)
    before = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n0"), F.sum("cents").alias("c0"))
        .localCheckpoint()
    )
    # the corrected batch: purchase rows with cents doubled
    corrected = ev.filter(F.col("event_type") == "purchase").withColumn(
        "cents", F.col("cents") * 2
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(out)
    )
    after = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n1"), F.sum("cents").alias("c1"))
    )
    return (
        before.join(after, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce(F.col("n0"), F.lit(0)).cast("bigint").alias("rows_before"),
            F.coalesce(F.col("n1"), F.lit(0)).cast("bigint").alias("rows_after"),
            (F.col("n0").eqNullSafe(F.col("n1"))).alias("rows_intact"),
            (F.col("c0").eqNullSafe(F.col("c1"))).alias("sums_intact"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# maint_join_cardinality_exact
# ---------------------------------------------------------------------------
@register(
    "maint_join_cardinality_exact",
    oracle="""
    WITH co AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    cl AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
    j AS (
      SELECT co.c AS c_o, cl.c AS c_l FROM co JOIN cl USING (k)
    )
    SELECT CAST((SELECT COUNT(*) FROM co) AS BIGINT) AS ndv_orders,
           CAST((SELECT COUNT(*) FROM cl) AS BIGINT) AS ndv_lineitem,
           CAST(COUNT(*) AS BIGINT) AS ndv_matched,
           CAST(SUM(c_o * c_l) AS BIGINT) AS exact_join_rows,
           CAST(MAX(c_o * c_l) AS BIGINT) AS max_key_contribution,
           CAST((SELECT SUM(c * c) FROM cl) AS BIGINT) AS f2_lineitem
    FROM j
    """,
)
def maint_join_cardinality_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output cardinality for orders⋈lineitem on orderkey:
    |A⋈B| = Σ_k c_A(k)·c_B(k) over matching keys — the number the CBO
    ESTIMATES from NDV and histograms (`maint_analyze_stats` feeds it),
    computed exactly, plus the max per-key contribution (the skew
    hotspot `maint_skew_report` hunts) and lineitem's second frequency
    moment F2 = Σc² (the self-join size / AMS sketch target). Run this
    before sizing shuffle partitions for a big join: the estimate
    being 10× off is how 2-hour stages happen.

    Two key-frequency rollups joined on the key — the shuffle carries
    one row per distinct key, never the join output itself (the whole
    point: the join's SIZE is computed without MATERIALIZING it)."""
    co = table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("c_o"))
    cl = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_l"))
        .localCheckpoint()  # matched join + NDV/F2 siblings share it
    )
    ndv_o = co.count()
    stats_l = cl.agg(
        F.count(F.lit(1)).alias("ndv"),
        F.sum(F.col("c_l") * F.col("c_l")).alias("f2"),
    ).collect()[0]
    j = co.join(cl, "k")
    return j.agg(
        F.lit(ndv_o).cast("bigint").alias("ndv_orders"),
        F.lit(stats_l["ndv"]).cast("bigint").alias("ndv_lineitem"),
        F.count(F.lit(1)).cast("bigint").alias("ndv_matched"),
        F.sum(F.col("c_o") * F.col("c_l")).cast("bigint").alias("exact_join_rows"),
        F.max(F.col("c_o") * F.col("c_l"))
        .cast("bigint")
        .alias("max_key_contribution"),
        F.lit(stats_l["f2"]).cast("bigint").alias("f2_lineitem"),
    )


@register("stream_nffile_source")  # rows-only: genuine StreamingQuery —
# exactly-once across drains pinned in tests/test_nffile.py
def stream_nffile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An nfcapd directory of nfdump ON-DISK files as a GENUINE
    streaming source (Python DataSource stream-reader API) — the
    streaming third of the nffile story next to `flows_nffile_decode`
    (batch) and `FlowService` fmt="nffile" (batch-incremental).

    Shares `stream_v9_source`'s offset design through one registrar
    (``streaming/pipeline._register_flow_stream_source``): the offset
    is the lexicographically last rotation NAME — O(1) state, no
    unbounded seen-files log — and each micro-batch's partitions are
    the files in (start, end], decoded whole-file on executors. The
    demo drains 2 rotations, lands a third, drains again: the second
    drain ingests ONLY the new rotation."""
    from ..streaming.pipeline import run_nffile_stream_source

    return run_nffile_stream_source(spark)


# --- custom Python DataSource ------------------------------------------------
@register("source_python_datasource")  # rows-only: synthetic source; the
# partition-parallelism and row contracts are pinned in tests
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Python DataSource API (Spark 4's
    `pyspark.sql.datasource`): the clean seam for the reference's
    `nfdump -r <file> -o csv` decode loop — each InputPartition is one
    capture file, `read(partition)` shells out/decodes IN PYTHON on the
    executor, and Spark handles distribution, retries, and Arrow
    transfer. This replaces the driver-side staging dance
    (`FlowService.decode_cmd` models today's subprocess path) with a
    first-class parallel source: `spark.read.format("nfcapd")` at
    100 TB = one partition per rotation file across the fleet.

    The demo source synthesizes 4 deterministic 'files' of flow-like
    rows (no nfdump binary in env — SURVEY §8); the decode body is the
    swap point."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class CaptureReader(DataSourceReader):
        def __init__(self, n_files: int = 4, rows_per_file: int = 50):
            self.n_files = n_files
            self.rows_per_file = rows_per_file

        def partitions(self):
            # one partition per simulated capture file → Spark schedules
            # them across executors exactly like rotation files
            return [InputPartition(i) for i in range(self.n_files)]

        def read(self, partition):
            fidx = partition.value
            # deterministic stand-in for `nfdump -r file_{fidx} -o csv`
            for r in range(self.rows_per_file):
                yield (
                    fidx,
                    r,
                    f"10.0.{fidx}.{r % 250}",
                    f"192.168.1.{r % 250}",
                    100 + (r * 7 + fidx) % 900,
                )

    class CaptureSource(DataSource):
        @classmethod
        def name(cls):
            return "wave9_nfcapd"

        def schema(self):
            return "file_idx int, row_idx int, sa string, da string, ibyt long"

        def reader(self, schema):
            return CaptureReader()

    spark.dataSource.register(CaptureSource)
    raw = spark.read.format("wave9_nfcapd").load()
    return raw.groupBy("file_idx").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("ibyt").alias("bytes"),
        F.countDistinct("sa").alias("n_src"),
    )


# --- state-store introspection -----------------------------------------------
@register("stream_state_reader")  # rows-only: state layout is engine-
# internal; the keys==groups invariant is pinned in tests
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store data source (Spark 4 `statestore` format): read the
    OPERATOR STATE of a streaming aggregation straight from its
    checkpoint — the debugging/ops capability that turns 'why is my
    streaming agg wrong/huge?' from guesswork into a query. At 100 TB
    this is how state bloat is diagnosed (group-key skew shows up as
    partition_id row counts) and how state is audited after an
    incident, with no replay.

    Demo: a per-user streaming count over one rotation's events (the
    deterministic `event_id < 1000` slice — a bare `limit` would pick
    whatever rows partition read order serves first, so the test's
    independently recomputed group count could flake; ADVICE r2), then
    the checkpoint's state read back and summarized per shuffle
    partition."""
    src, ckpt = tempfile.mkdtemp(prefix="sf_ssr_"), tempfile.mkdtemp(
        prefix="sf_ssrc_"
    )
    e = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id")
        .filter(F.col("event_id") < 1000)
    )
    e.write.mode("overwrite").parquet(os.path.join(src, "f0"))
    sdf = spark.readStream.schema("user_id long, event_id long").parquet(
        src + "/*"
    )
    from ..streaming.pipeline import _demo_state_partitions

    with _demo_state_partitions(spark):
        q = (
            sdf.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName("wave9_state_demo")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_state_keys")
    )


# --- inline observed metrics -------------------------------------------------
@register(
    "observe_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           -- COALESCE: DuckDB count_if over zero rows is NULL where
           -- Spark's is 0 — a count of an empty table is truthfully 0
           -- (r7 class-2 convention, applied r9 per SURVEY §17.1)
           CAST(COALESCE(count_if(value > 500), 0) AS BIGINT) AS n_big,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline data-quality metrics with `df.observe()`: named aggregates
    piggyback on the SAME pass as the real action — zero extra scans —
    and surface through the Observation handle / listener bus. The
    pattern every production pipeline needs for row-count reconciliation
    and freshness gates: at 100 TB a separate metrics query doubles the
    scan bill; observe() makes it free. The observed values are returned
    AS the result here so the driver hash-checks that the piggybacked
    aggregates equal the oracle's direct ones."""
    from pyspark.sql import Observation

    e = table(spark, sf_dir, "events")
    obs = Observation("quality")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("value") > 500).alias("n_big"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # the action the metrics ride on (noop sink = full scan, no transfer)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_big"], m["total_value"])],
        "n_rows long, n_big long, total_value double",
    )


# --- streaming corpus curation (end-to-end composition) ----------------------
@register("stream_curation_e2e")  # rows-only: real StreamingQuery run;
# exactly-once + cross-rotation dedup invariants are pinned in tests
def stream_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus curation — the batch curation pipeline
    (`text_quality_filter_e2e` + fingerprint dedup +
    `curation_manifest_e2e`) recomposed on Structured Streaming, which
    is how a crawl actually arrives: document 'rotations' land as
    files; each micro-batch is quality-filtered with pure Column
    predicates, fingerprinted (xxhash64 of text), deduplicated ACROSS
    rotations with `dropDuplicatesWithinWatermark` (bounded state — the
    fingerprint store expires 1h past the watermark, exactly the
    `stream_dedup_watermark` discipline), and appended through the
    idempotent batch-id ledger sink (`sources.sinks.parquet_batch_writer`
    — a replayed micro-batch writes nothing twice).

    The fixture stream re-sends every doc_id%7==0 document in BOTH later
    rotations: the test pins that re-sent docs survive exactly once and
    that the curated set equals the batch pipeline's quality-filtered
    distinct corpus (checkpoint replay protection itself is pinned by
    `stream_restart_resume`)."""
    from ..catalog import table as _table
    from ..sources.sinks import parquet_batch_writer

    watch = tempfile.mkdtemp(prefix="sf_cur_watch_")
    ckpt = tempfile.mkdtemp(prefix="sf_cur_ckpt_")
    out = tempfile.mkdtemp(prefix="sf_cur_out_")
    ledger = tempfile.mkdtemp(prefix="sf_cur_ledger_")

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    resend = docs.filter(F.col("doc_id") % 7 == 0)
    base = "2024-03-01 00:00:00"
    for i in range(3):
        rot = docs.filter(F.col("doc_id") % 3 == i)
        if i > 0:  # later rotations re-send the %7 docs (crawl re-fetches)
            rot = rot.unionByName(resend).distinct()
        rot.withColumn(
            "ts",
            F.lit(base).cast("timestamp") + F.make_interval(mins=F.lit(i * 5)),
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(watch, f"rot{i}")
        )

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, source string, n_chars long, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(watch + "/rot*")
    )
    curated = (
        stream.filter((F.col("n_chars") >= 100) & (F.size(F.split("text", r"\s+")) >= 20))
        .withColumn("fp", F.xxhash64("text"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    q = (
        curated.writeStream.foreachBatch(
            parquet_batch_writer(os.path.join(out, "curated"), ledger_path=ledger)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(os.path.join(out, "curated"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .orderBy("source")
    )


# --- partitioned-table health report -----------------------------------------
@register("maint_partition_stats")  # rows-only: file sizes vary with
# parquet encoding; structural invariants pinned in tests
def maint_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition health report — the ops view every partitioned table
    needs next to `maint_compaction`: per partition, file count, rows,
    bytes, and mean file size, flagging SMALL-FILE partitions (mean
    < 1 MiB here). At 100 TB this is the table you alert on: a
    partition with 5000 tiny files is a compaction ticket before it is
    a query-latency incident.

    Shape: writes a dt-partitioned copy of events, then reads ONLY
    file metadata via the `input_file_name`-free route — one scan of
    the partitioned table grouping on the partition column, joined to
    driver-side file listing (O(#files) metadata, no data read for the
    size column)."""
    import os as _os

    from ..catalog import table as _table

    base = tempfile.mkdtemp(prefix="sf_pstats_")
    tbl = _os.path.join(base, "events_parted")
    e = _table(spark, sf_dir, "events")
    # NULL-ts rows would land in dt=__HIVE_DEFAULT_PARTITION__, whose
    # partition value cannot cast back to DATE on re-read (r8 nullmix
    # sweep) — they are not partition-manageable in this report
    e = e.filter(F.col("ts").isNotNull())
    e.withColumn("dt", F.to_date("ts")).repartition(4).write.partitionBy(
        "dt"
    ).mode("overwrite").parquet(tbl)

    meta = []
    for d in _os.listdir(tbl):
        if not d.startswith("dt="):
            continue
        pdir = _os.path.join(tbl, d)
        files = [f for f in _os.listdir(pdir) if f.endswith(".parquet")]
        nbytes = sum(_os.path.getsize(_os.path.join(pdir, f)) for f in files)
        meta.append((d.split("=", 1)[1], len(files), nbytes))
    if not meta:
        # an empty source writes zero partitions, and a zero-partition
        # table cannot even infer a read schema (r7 edge sweep)
        return spark.createDataFrame(
            [],
            "dt date, n_files int, n_rows bigint, bytes long,"
            " mean_file_bytes long, small_files boolean",
        )
    rows = (
        spark.read.parquet(tbl)
        .groupBy("dt")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    m = spark.createDataFrame(meta, "dt string, n_files int, bytes long").select(
        F.col("dt").cast("date").alias("dt"), "n_files", "bytes"
    )
    return (
        rows.join(m, "dt")
        .select(
            "dt",
            "n_files",
            "n_rows",
            "bytes",
            (F.col("bytes") / F.col("n_files")).cast("long").alias("mean_file_bytes"),
            (F.col("bytes") / F.col("n_files") < 1024 * 1024).alias("small_files"),
        )
        .orderBy("dt")
    )


# --- streaming progress metrics ----------------------------------------------
@register("stream_progress_metrics")  # rows-only: engine-reported metrics;
# reconciliation invariants pinned in tests
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability from the ENGINE's own telemetry: run a
    per-user streaming count over 3 file 'rotations' and surface each
    micro-batch's StreamingQueryProgress — input rows, processed rate,
    and state-store rows/memory — as a queryable DataFrame. This is the
    ops counterpart to `observe_metrics` (batch observe()): at 100 TB
    these numbers feed the lag/state-bloat alerts, and reading them
    from `recentProgress` is exactly how a monitoring exporter does it.

    Invariants pinned in tests: batch input rows sum to the source row
    count, and the final state row count equals the distinct key count
    — the engine's telemetry must reconcile with the data."""
    import json as _json

    from ..catalog import table as _table

    src = tempfile.mkdtemp(prefix="sf_prog_src_")
    ckpt = tempfile.mkdtemp(prefix="sf_prog_ckpt_")
    e = _table(spark, sf_dir, "events").select("user_id", "event_id").filter(
        F.col("event_id") < 3000
    )
    for i in range(3):
        e.filter(F.col("event_id") % 3 == i).write.mode("overwrite").parquet(
            os.path.join(src, f"f{i}")
        )
    sdf = (
        spark.readStream.schema("user_id long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    q = (
        sdf.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = []
    for p in q.recentProgress:
        prog = p if isinstance(p, dict) else _json.loads(p.json)
        so = (prog.get("stateOperators") or [{}])[0]
        rows.append(
            (
                int(prog["batchId"]),
                int(prog.get("numInputRows") or 0),
                int(so.get("numRowsTotal") or 0),
                int(so.get("numRowsUpdated") or 0),
                int(so.get("memoryUsedBytes") or 0) > 0,
            )
        )
    return spark.createDataFrame(
        rows,
        "batch_id long, input_rows long, state_rows long,"
        " state_updated long, state_uses_memory boolean",
    ).orderBy("batch_id")


@register(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected parquet scan — ReadSchema carries only the 4 columns
    (Catalyst column pruning; the reference prunes manually in pandas [P]).
    """
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )


@register("scan_csv_typed")  # rows-only: models the `nfdump -o csv` decode [P]
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-schema CSV ingest of nfcapd-style rotated files + the
    reference's 48→13 projection (sources/flows.py)."""
    d = tempfile.mkdtemp(prefix="sf_csv_")
    write_flow_files(spark, d, n_files=2, rows_per_file=150, fmt="csv")
    df = read_flow_csv(spark, os.path.join(d, "*"), flowsrc="csvsrc")
    return df.select("ts", "sa", "da", "sp", "dp", "pr", "ipkt", "ibyt", "flowsrc", "sa_num")


@register("sink_parquet_part")  # rows-only: read-back count check
def sink_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned (dt, flowsrc) sorted parquet layout — the MergeTree
    ORDER BY analog (SURVEY §4.3.1) — written then read back."""
    from ..functions.ip import ipv4_to_num
    from ..schemas import FLOWS

    d = tempfile.mkdtemp(prefix="sf_sink_")
    src = tempfile.mkdtemp(prefix="sf_sinksrc_")
    write_flow_files(spark, src, n_files=2, rows_per_file=200)
    raw = spark.read.schema(FLOWS).parquet(os.path.join(src, "*"))
    flows = raw.withColumns(
        {
            "flowsrc": F.lit("tagA"),
            "sa_num": ipv4_to_num(F.col("sa")),
            "dt": F.to_date("ts"),
        }
    )
    out = os.path.join(d, "flows")
    write_flows_partitioned(flows, out, mode="overwrite")
    back = spark.read.parquet(out)
    return back.groupBy("dt", "flowsrc").agg(F.count(F.lit(1)).alias("n"))


@register(
    "retention_ttl",
    oracle="""
    SELECT event_id, user_id, event_type, date_trunc('minute', ts) AS ts_min
    FROM events WHERE ts >= TIMESTAMP '2024-01-15'
    """,
)
def retention_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL filter semantics (MergeTree `TTL te + INTERVAL 90 DAY` [P]).
    The physical implementation is partition drop —
    sources.sinks.drop_expired_partitions, exercised in tests — which is
    metadata-only; this key hash-checks the row-level cutoff semantics."""
    e = table(spark, sf_dir, "events")
    return e.filter(F.col("ts") >= F.lit("2024-01-15").cast("timestamp")).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("minute", "ts").alias("ts_min"),
    )


@register("maint_bucketed_join")  # rows-only: plan-shape demo (bucketed tables)
def maint_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables: lineitem and
    orders written `bucketBy(8, orderkey)` + bucket-sorted, then joined
    on the bucket key — the join subtree has no Exchange (asserted in
    tests/test_plans.py). The recurring-join amortization strategy at
    100 TB: pay one bucketed write, then every orderkey join is local."""
    import uuid

    from ..sources.sinks import write_bucketed

    base = tempfile.mkdtemp(prefix="sf_buck_")
    suffix = uuid.uuid4().hex[:8]
    li_t, o_t = f"li_b_{suffix}", f"o_b_{suffix}"
    write_bucketed(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        li_t,
        8,
        "l_orderkey",
        os.path.join(base, "li"),
    )
    write_bucketed(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        o_t,
        8,
        "o_orderkey",
        os.path.join(base, "o"),
    )
    return (
        # merge hint: at fixture scale the dim would broadcast, hiding the
        # point — at 100 TB both sides are fact-sized and SMJ is the plan;
        # bucketing removes its two Exchanges
        spark.table(li_t)
        .hint("merge")
        .join(spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
    )


@register("sink_jdbc_clickhouse")  # rows-only: JDBC when a server exists
def sink_jdbc_clickhouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-parity sink: foreachBatch + batch-id ledger idempotence
    (SURVEY §4.3.5). When a server is configured AND reachable
    (CLICKHOUSE_HOST/_PORT + TCP probe — sources.clickhouse.
    clickhouse_reachable), the writer is the real `df.write.jdbc` against
    the generated MergeTree DDL; otherwise (this container: no server,
    no JDBC driver jar) the same batch-id protocol runs against parquet.
    Both paths prove idempotence by re-offering batch 0 (a no-op)."""
    from ..sources.clickhouse import clickhouse_reachable, flows_ddl  # noqa: F401
    from ..sources.sinks import jdbc_batch_writer, parquet_batch_writer

    out = tempfile.mkdtemp(prefix="sf_jdbc_")
    ledger = os.path.join(out, "ledger")
    flows = table(spark, sf_dir, "events").limit(500)
    if clickhouse_reachable():
        from ..sources.clickhouse import jdbc_properties, jdbc_url

        writer = jdbc_batch_writer(
            jdbc_url(), "nfsen.events_demo", jdbc_properties(), ledger_path=ledger
        )
        writer(flows, 0)
        writer(flows, 1)
        writer(flows, 0)  # duplicate offer — ledger makes it a no-op
        back = spark.read.jdbc(
            jdbc_url(), "nfsen.events_demo", properties=jdbc_properties()
        )
        return back.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n"))
    target = os.path.join(out, "table")
    writer = parquet_batch_writer(target, ledger_path=ledger)
    writer(flows, 0)
    writer(flows, 1)
    writer(flows, 0)  # duplicate offer — ledger makes it a no-op
    back = spark.read.parquet(target)
    return back.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n"))


@register("service_conf_ingest")  # rows-only: full daemon surface end-to-end
def service_conf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole operational loop behind its conf file
    [S .gitignore:131-132]: parse an ini with two watched sources →
    FlowService drains each via Structured Streaming → partitioned sorted
    table → per-(flowsrc, dt) counts read back from at-rest parquet."""
    from datetime import datetime, timezone

    from ..service import FlowService, parse_config

    base = tempfile.mkdtemp(prefix="sf_svc_")
    dirs = {"router-a": os.path.join(base, "wa"), "router-b": os.path.join(base, "wb")}
    start = datetime(2024, 3, 1, tzinfo=timezone.utc)
    write_flow_files(spark, dirs["router-a"], n_files=2, rows_per_file=100, start=start)
    write_flow_files(spark, dirs["router-b"], n_files=1, rows_per_file=50, start=start)
    conf = os.path.join(base, "nfdump2clickhouse.conf")
    with open(conf, "w") as fh:
        fh.write(
            f"[general]\ntable_path = {base}/flows\n"
            f"checkpoint_root = {base}/ckpt\nkeep_days = 90\n"
            + "".join(f"[{n}]\nwatchdir = {d}\n" for n, d in dirs.items())
        )
    svc = FlowService(spark, parse_config(conf))
    svc.run_once()
    return (
        svc.table()
        .groupBy("flowsrc", "dt")
        .agg(F.count(F.lit(1)).alias("n_flows"), F.sum("ibyt").alias("bytes"))
    )


def retention_partition_demo(spark: SparkSession) -> tuple[str, list[str]]:
    """Used by tests: build a dt-partitioned table spanning multiple days,
    drop the expired dt= partitions, return (table_path, dropped)."""
    from datetime import datetime, timedelta, timezone

    from ..functions.ip import ipv4_to_num
    from ..schemas import FLOWS

    d = tempfile.mkdtemp(prefix="sf_ttl_")
    src = tempfile.mkdtemp(prefix="sf_ttlsrc_")
    for day in range(3):
        write_flow_files(
            spark,
            src,
            n_files=1,
            rows_per_file=50,
            start=datetime(2024, 3, 1, tzinfo=timezone.utc) + timedelta(days=day),
        )
    raw = spark.read.schema(FLOWS).parquet(os.path.join(src, "*"))
    flows = raw.withColumns(
        {
            "flowsrc": F.lit("tagA"),
            "sa_num": ipv4_to_num(F.col("sa")),
            "dt": F.to_date("ts"),
        }
    )
    out = os.path.join(d, "flows")
    write_flows_partitioned(flows, out, mode="overwrite")
    dropped = drop_expired_partitions(out, keep_days=1, today=date(2024, 3, 3))
    return out, dropped


@register(
    "scan_jsonl",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round-trip — the de-facto interchange format of
    LLM training corpora (one JSON doc per line). Documents are written
    to jsonl and read back with an EXPLICIT schema (never
    `inferSchema`: on a 100 TB corpus schema inference is a full extra
    pass, and a single malformed line silently widens types); the
    aggregate over the round-tripped frame must match the oracle's over
    the original parquet, proving the jsonl path is lossless for typed
    fields. PERMISSIVE mode + explicit schema is also the
    corrupt-line-tolerant production configuration."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="sf_jsonl_"), "docs")
    d.write.mode("overwrite").json(out)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ── streaming keys ──────────────────────────────────────────────────────
# Registered LAST in this module (and the module itself registers late):
# each one runs a real multi-micro-batch StreamingQuery, the most
# expensive keys in the sweep — keeping them at the back of the registry
# maximizes how many cheap hash-checked keys a time-budgeted driver sweep
# certifies before reaching them.
@register("src_stream_dir")  # rows-only: real streaming integration
def src_stream_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_stream_dir(spark)


@register("stream_foreachbatch")  # rows-only: real StreamingQuery with
# side-effecting idempotent batch writes — no cross-engine value oracle
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_foreachbatch(spark)


@register("stream_restart_resume")  # rows-only: checkpoint-recovery integration
def stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_restart_resume(spark)


@register("stream_watermark")  # rows-only: real watermarked windowed agg
# run; emission timing is engine trigger behavior, not a SQL value
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_watermark(spark)


@register("stream_dedup_watermark")  # rows-only: real watermarked
# dropDuplicates stream; state eviction is engine-internal
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_dedup_watermark(spark)


@register("stream_output_modes")  # rows-only: compares append/update/
# complete sink contents across micro-batches — a lifecycle, not a query
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_output_modes(spark)


@register("stream_stateful")  # rows-only: real applyInPandasWithState
# run; per-group state timeouts have no batch-SQL analog
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_stateful_sessions(spark)


@register("stream_session_window")  # rows-only: real streaming session windows
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_session_stream(spark)


@register("stream_stream_join")  # rows-only: real watermarked 2-stream join
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_stream_stream_join(spark)


@register("stream_v9_source")  # rows-only: real Python DataSource stream
# reader over an nfcapd dir; offset = last rotation name (O(1) state)
def stream_v9_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_v9_stream_source(spark)


@register("maint_compaction")  # rows-only: writes temp files; counts vary
# with parquet encoding, so no cross-engine oracle
def maint_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every file-rotation
    ingest needs (the reference's 5-min nfcapd rotations produce 288
    files/day/source; parquet readers die by a thousand footer reads).
    Write a deliberately over-partitioned copy of events, then compact
    to ceil(bytes / 8 MiB) files with repartition (round-robin keeps
    sizes even; coalesce would skew) and verify row preservation.
    At 100 TB this runs per-partition (dt=...) so compaction touches one
    day at a time and serializes with ingest via the same ledger lock
    the service uses."""
    import glob
    import shutil

    base = tempfile.mkdtemp(prefix="sf_compact_")
    frag_dir, out_dir = os.path.join(base, "frag"), os.path.join(base, "out")
    e = table(spark, sf_dir, "events")
    e.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frags = glob.glob(os.path.join(frag_dir, "*.parquet"))
    n_before = len(frags)
    bytes_before = sum(os.path.getsize(p) for p in frags)
    target = max(1, -(-bytes_before // (8 * 1024 * 1024)))  # ceil div
    df = spark.read.parquet(frag_dir)
    df.repartition(target).write.mode("overwrite").parquet(out_dir)
    n_after = len(glob.glob(os.path.join(out_dir, "*.parquet")))
    rows_before = e.count()
    rows_after = spark.read.parquet(out_dir).count()
    result = spark.createDataFrame(
        [(n_before, n_after, rows_before, rows_after, rows_before == rows_after)],
        "files_before int, files_after int, rows_before long, rows_after long, preserved boolean",
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


@register("stream_transform_with_state")  # rows-only: Spark 4 TWS API
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 stateful successor API (`transformWithStateInPandas`,
    RocksDB state store) running the SAME cross-batch session stitching
    as `stream_stateful`. Its Python worker needs `google.protobuf`;
    `pbcompat.ensure_protobuf()` activates a shim from an on-image
    runtime when possible — but worker processes only inherit it if the
    JVM started AFTER the shim, so in a pre-built session (the driver
    sweep) the attempt can fail in the worker: then this key falls back
    to the `applyInPandasWithState` implementation, which computes the
    identical stitched sessions on the older API (equality of the two
    paths is pinned in tests/test_streaming.py)."""
    from ..pbcompat import ensure_protobuf

    if ensure_protobuf():
        try:
            return sp.run_transform_with_state(spark)
        except Exception:
            pass  # worker-side import failure: JVM predates the shim
    return sp.run_stateful_sessions(spark)


@register("stream_left_outer_join")  # rows-only: watermark-deferred
# NULL-emit semantics pinned in tests/test_streaming.py
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.run_stream_left_outer_join(spark)
