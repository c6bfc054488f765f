"""Flows-domain operators (``flows_*``).

The security/ops questions nfsen dashboards ask of the ClickHouse flows table [P — the reference's whole
query surface is user-side SQL over ``nfsen.flows``, SURVEY §0], and the
binary capture decoders (NetFlow v5/v9, IPFIX, nfdump nffile).

Fixtures carry no flow tuples, so endpoints/ports/bytes are synthesized
deterministically from events columns — the oracle re-derives them
identically, so the hash check exercises the full query, not the
synthesis.
"""

from __future__ import annotations

import os
import struct
import tempfile

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..registry import register


# --- flows: DDoS amplification detection -------------------------------------
@register(
    "flows_ddos_amplification",
    oracle="""
    WITH f AS (
      SELECT '10.1.' || CAST((user_id * 7 + event_id) % 40 AS VARCHAR) AS da,
             '10.0.' || CAST(user_id % 50 AS VARCHAR)                  AS sa,
             CASE WHEN event_id % 5 = 0 THEN 53
                  WHEN event_id % 7 = 0 THEN 123
                  ELSE 1024 + event_id % 401 END                       AS sp,
             CAST(FLOOR(value * 1000) AS BIGINT)
               * CASE WHEN event_id % 5 = 0 OR event_id % 7 = 0
                      THEN 47 ELSE 1 END                               AS ibyt
      FROM events
    )
    SELECT da,
           CAST(SUM(CASE WHEN sp IN (53, 123) THEN ibyt ELSE 0 END) AS BIGINT)
             AS amp_bytes,
           COUNT(DISTINCT sa) AS n_src,
           ROUND(SUM(CASE WHEN sp IN (53, 123) THEN ibyt ELSE 0 END) * 1.0
                 / SUM(ibyt), 4) AS amp_ratio
    FROM f
    GROUP BY da
    HAVING SUM(CASE WHEN sp IN (53, 123) THEN ibyt ELSE 0 END) * 1.0
           / SUM(ibyt) >= 0.5
    """,
)
def flows_ddos_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reflection/amplification-attack detector — the nfsen question the
    reference's author ships a sibling tool for [P]: per destination,
    the share of bytes arriving from amplifier source ports (DNS 53,
    NTP 123, with the protocol's ~47× gain applied) vs total; flag
    targets above 50%. Flow tuples synthesized deterministically from
    events (same recipe as flows_biflow) so the hash check covers the
    whole query. One partial+final agg keyed on `da`: at 100 TB the
    shuffle carries one row per (da) — attack targets are by definition
    few — and `count distinct sa` partial-aggregates per mapper."""
    e = table(spark, sf_dir, "events")
    is_amp = (F.col("event_id") % 5 == 0) | (F.col("event_id") % 7 == 0)
    f = e.select(
        F.concat(
            F.lit("10.1."), ((F.col("user_id") * 7 + F.col("event_id")) % 40).cast("string")
        ).alias("da"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias("sa"),
        F.when(F.col("event_id") % 5 == 0, 53)
        .when(F.col("event_id") % 7 == 0, 123)
        .otherwise(1024 + F.col("event_id") % 401)
        .alias("sp"),
        (
            F.floor(F.col("value") * 1000).cast("bigint")
            * F.when(is_amp, 47).otherwise(1)
        ).alias("ibyt"),
    )
    amp = F.sum(F.when(F.col("sp").isin(53, 123), F.col("ibyt")).otherwise(0))
    tot = F.sum("ibyt")
    return (
        f.groupBy("da")
        .agg(
            amp.cast("bigint").alias("amp_bytes"),
            F.countDistinct("sa").alias("n_src"),
            F.round(amp / tot, 4).alias("amp_ratio"),
            (amp / tot).alias("_r"),
        )
        .filter(F.col("_r") >= 0.5)
        .drop("_r")
    )


# --- beaconing detection -----------------------------------------------------
@register(
    "flows_beaconing_detection",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    stats AS (
      SELECT user_id, event_type,
             COUNT(gap_us) AS n_gaps,
             ROUND(AVG(gap_us) / 1000000.0, 2) AS mean_gap_s,
             ROUND(stddev_samp(gap_us) / greatest(AVG(gap_us), 1), 4) AS cv
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY user_id, event_type
      HAVING COUNT(gap_us) >= 10
    )
    SELECT user_id, event_type, n_gaps, mean_gap_s, cv, cv < 0.5 AS beacon
    FROM stats
    """,
)
def flows_beaconing_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beaconing detection — the C2-hunting staple on flow data: a
    (src, dst) channel whose inter-arrival gaps have a LOW coefficient
    of variation is machine-periodic, not human (here per (user,
    event_type) channel over the events fixture; on flows the key is
    (sa, da, dp)). Complements `flows_portscan` (fan-out) and
    `events_anomaly_zscore` (volume): this one sees timing regularity.

    ONE channel-keyed sort window computes gaps; the CV aggregate rides
    the same partitioning (no second shuffle), and the ≥10-gap floor
    kills the noise channels before they reach the report."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = e.select(
        "user_id", "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    cv = F.round(
        F.stddev_samp("gap_us") / F.greatest(F.avg("gap_us"), F.lit(1)), 4
    )
    return (
        gaps.groupBy("user_id", "event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(F.avg("gap_us") / 1_000_000.0, 2).alias("mean_gap_s"),
            cv.alias("cv"),
        )
        .filter(F.col("n_gaps") >= 10)
        .withColumn("beacon", F.col("cv") < 0.5)
    )


@register(
    "flows_biflow",
    oracle="""
    WITH f AS (
      SELECT '10.0.' || CAST(user_id % 50 AS VARCHAR)                 AS sa,
             '10.0.' || CAST((user_id + event_id) % 50 AS VARCHAR)    AS da,
             CAST(FLOOR(value * 1000) AS BIGINT)                      AS ibyt
      FROM events
    )
    SELECT least(sa, da)    AS ep1,
           greatest(sa, da) AS ep2,
           COUNT(*)                                        AS n_flows,
           CAST(SUM(CASE WHEN sa <= da THEN ibyt ELSE 0 END) AS BIGINT) AS fwd_bytes,
           CAST(SUM(CASE WHEN sa >  da THEN ibyt ELSE 0 END) AS BIGINT) AS rev_bytes
    FROM f WHERE sa <> da
    GROUP BY ep1, ep2
    """,
)
def flows_biflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nfdump `-B` bidirectional aggregation [P]: unidirectional flow
    records between the same endpoint pair collapse into one biflow row
    keyed on the canonical (least, greatest) pair, with per-direction
    byte counters. One partial+final hash agg on the canonical key — at
    100 TB the shuffle carries one row per endpoint pair, and the
    canonicalization is scan-side codegen, so request and reply meet in
    the same reducer without any self-join."""
    e = table(spark, sf_dir, "events")
    f = e.select(
        F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias("sa"),
        F.concat(
            F.lit("10.0."), ((F.col("user_id") + F.col("event_id")) % 50).cast("string")
        ).alias("da"),
        # explicit floor: DuckDB's double→bigint cast rounds, Spark's
        # truncates — floor() is the one semantics both engines share
        F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt"),
    ).filter(F.col("sa") != F.col("da"))
    return f.groupBy(
        F.least("sa", "da").alias("ep1"), F.greatest("sa", "da").alias("ep2")
    ).agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum(F.when(F.col("sa") <= F.col("da"), F.col("ibyt")).otherwise(0)).alias(
            "fwd_bytes"
        ),
        F.sum(F.when(F.col("sa") > F.col("da"), F.col("ibyt")).otherwise(0)).alias(
            "rev_bytes"
        ),
    )


@register(
    "flows_portscan",
    oracle="""
    WITH f AS (
      SELECT '10.0.' || CAST(user_id % 50 AS VARCHAR) AS sa,
             date_trunc('hour', ts)                   AS hr,
             CAST(event_id % 1024 AS INT)             AS dp
      FROM events
    )
    SELECT sa, hr, COUNT(DISTINCT dp) AS n_ports
    FROM f GROUP BY sa, hr HAVING COUNT(DISTINCT dp) >= 8
    """,
)
def flows_portscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Port-scan detector (the canonical nfsen security query [P]): a
    source touching ≥ 8 distinct destination ports within one hour.
    Spark plans distinct-within-group as a two-phase aggregation
    ((sa, hr, dp) partial dedup map-side, then the count) — no window,
    no self-join, and the HAVING filter runs on the tiny aggregated
    side. The hour bucket (not raw ts) keeps the key deterministic
    across fixture timestamp precisions (SURVEY §5.3.2)."""
    e = table(spark, sf_dir, "events")
    f = e.select(
        F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias("sa"),
        F.date_trunc("hour", "ts").alias("hr"),
        (F.col("event_id") % 1024).cast("int").alias("dp"),
    )
    return (
        f.groupBy("sa", "hr")
        .agg(F.countDistinct("dp").alias("n_ports"))
        .filter(F.col("n_ports") >= 8)
    )


@register(
    "flows_top_talkers",
    oracle="""
    WITH f AS (
      SELECT '10.0.' || CAST(user_id % 50 AS VARCHAR) AS sa,
             CAST(FLOOR(value * 1000) AS BIGINT)      AS ibyt
      FROM events
    ),
    agg AS (
      SELECT sa, COUNT(*) AS n_flows, CAST(SUM(ibyt) AS BIGINT) AS total_bytes
      FROM f GROUP BY sa
    )
    SELECT sa, n_flows, total_bytes,
           ROUND(total_bytes * 100.0 / SUM(total_bytes) OVER (), 2) AS pct_bytes
    FROM agg
    ORDER BY total_bytes DESC, sa LIMIT 10
    """,
)
def flows_top_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nfdump -s srcip/bytes` / the nfsen front-page top-talkers table
    [P]: top-10 sources by volume with share-of-total. The share uses an
    empty-frame window over the ALREADY-AGGREGATED per-source rows
    (|sources| rows, one tiny single-partition window), never over raw
    flows; the top-10 is TakeOrderedAndProject on the same aggregate.
    At 100 TB: one partial+final agg over the corpus, then statistics on
    a frame the driver could hold."""
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window

    f = e.select(
        F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias("sa"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt"),
    )
    agg = f.groupBy("sa").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ibyt").alias("total_bytes"),
    )
    total = Window.partitionBy()
    return (
        agg.select(
            "sa",
            "n_flows",
            "total_bytes",
            F.round(F.col("total_bytes") * 100.0 / F.sum("total_bytes").over(total), 2)
            .alias("pct_bytes"),
        )
        .orderBy(F.col("total_bytes").desc(), "sa")
        .limit(10)
    )


@register(
    "flows_stat_report",
    oracle="""
    WITH f AS (
      SELECT '10.0.' || CAST(user_id % 50 AS VARCHAR) AS sa,
             CAST(1024 + (event_id % 1024) AS VARCHAR) AS dp,
             CASE WHEN event_type IN ('click', 'view') THEN 'tcp'
                  WHEN event_type = 'error' THEN 'icmp' ELSE 'udp' END AS pr,
             CAST(floor(value * 10) + 1 AS BIGINT) AS ipkt,
             CAST(floor(value * 1000) AS BIGINT) AS ibyt
      FROM events
    ),
    t AS (SELECT SUM(ipkt) AS tp, SUM(ibyt) AS tb, COUNT(*) AS tf FROM f),
    per_dim AS (
      SELECT 'srcip' AS dim, sa AS key, COUNT(*) AS n_flows,
             CAST(SUM(ipkt) AS BIGINT) AS pkts,
             CAST(SUM(ibyt) AS BIGINT) AS bytes FROM f
      WHERE sa IS NOT NULL GROUP BY sa
      UNION ALL
      SELECT 'dstport', dp, COUNT(*), CAST(SUM(ipkt) AS BIGINT),
             CAST(SUM(ibyt) AS BIGINT) FROM f
      WHERE dp IS NOT NULL GROUP BY dp
      UNION ALL
      SELECT 'proto', pr, COUNT(*), CAST(SUM(ipkt) AS BIGINT),
             CAST(SUM(ibyt) AS BIGINT) FROM f
      WHERE pr IS NOT NULL GROUP BY pr
    ),
    ranked AS (
      SELECT dim, key, n_flows, pkts, bytes,
             ROW_NUMBER() OVER (PARTITION BY dim
                                ORDER BY bytes DESC, key) AS rk
      FROM per_dim
    )
    -- integer basis points: ROUND(double,2) implementations disagree at
    -- x.xx5 boundaries between engines (SURVEY §5.3 r2 rule)
    SELECT dim, key, n_flows, pkts, bytes,
           CAST((2 * n_flows * 10000 + tf) // (2 * tf) AS BIGINT) AS bp_flows,
           CAST((2 * pkts * 10000 + tp) // (2 * tp) AS BIGINT) AS bp_pkts,
           CAST((2 * bytes * 10000 + tb) // (2 * tb) AS BIGINT) AS bp_bytes
    FROM ranked, t WHERE rk <= 5
    """,
)
def flows_stat_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-statistic report — `nfdump -s srcip -s dstport -s proto`
    parity [P §3.1], the tool's most-used reporting mode: top-5 per
    dimension by bytes, with flow/packet/byte shares of the GLOBAL
    totals, all from ONE pass over the flows.

    Shape: grouping-sets aggregation — one scan Expands ×3 (srcip,
    dstport, proto) into a single partial+final agg, exactly how nfdump
    builds all its stat tables in one file read; per-dimension top-5 is
    a WindowGroupLimit (literal rank bound), and the global totals
    broadcast from a 1-row aggregate. Adding `-s` dimensions at 100 TB
    costs Expand width, never another corpus scan."""
    e = table(spark, sf_dir, "events")
    f = e.select(
        F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias(
            "sa"
        ),
        (1024 + F.col("event_id") % 1024).cast("string").alias("dp"),
        F.when(F.col("event_type").isin("click", "view"), "tcp")
        .when(F.col("event_type") == "error", "icmp")
        .otherwise("udp")
        .alias("pr"),
        (F.floor(F.col("value") * 10) + 1).cast("bigint").alias("ipkt"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt"),
    )
    totals = f.agg(
        F.sum("ipkt").alias("tp"),
        F.sum("ibyt").alias("tb"),
        F.count(F.lit(1)).alias("tf"),
    )
    f.createOrReplaceTempView("fsr_flows")
    per_dim = spark.sql(
        """
        -- dim from grouping_id, NOT key-NULLness: a NULL bucket key
        -- (NULL user_id => NULL sa) would misroute its group to the
        -- wrong dim under the NULL-based CASE; NULL keys themselves are
        -- pinned out two-sided (EDGE_SWEEP_r10 class C)
        SELECT * FROM (
          SELECT CASE grouping_id(sa, dp, pr) WHEN 3 THEN 'srcip'
                      WHEN 5 THEN 'dstport'
                      ELSE 'proto' END AS dim,
                 COALESCE(sa, dp, pr) AS key,
                 COUNT(*) AS n_flows, SUM(ipkt) AS pkts, SUM(ibyt) AS bytes
          FROM fsr_flows
          GROUP BY GROUPING SETS ((sa), (dp), (pr))
        ) WHERE key IS NOT NULL
        """
    )
    w = Window.partitionBy("dim").orderBy(F.desc("bytes"), "key")
    return (
        per_dim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .crossJoin(F.broadcast(totals))
        .select(
            "dim",
            "key",
            "n_flows",
            "pkts",
            "bytes",
            # basis points via exact integer round-half-up division —
            # ROUND(double,2) diverges cross-engine at x.xx5 boundaries
            F.expr(
                "CAST((2 * n_flows * 10000 + tf) DIV (2 * tf) AS BIGINT)"
            ).alias("bp_flows"),
            F.expr(
                "CAST((2 * pkts * 10000 + tp) DIV (2 * tp) AS BIGINT)"
            ).alias("bp_pkts"),
            F.expr(
                "CAST((2 * bytes * 10000 + tb) DIV (2 * tb) AS BIGINT)"
            ).alias("bp_bytes"),
        )
    )


# --- NetFlow v5 binary decode ------------------------------------------------
_NF5_HEADER = struct.Struct(">HHIIIIBBH")  # 24 bytes
_NF5_RECORD = struct.Struct(">IIIHHIIIIHHBBBBHHBBH")  # 48 bytes


def decode_v5(content: bytes) -> list[tuple]:
    """Pure v5 decode of one capture: 24-byte header + 48-byte records →
    [(sa, da, sp, dp, pr, ipkt, ibyt), ...]. TOTAL on truncated input:
    the header's record count is trusted only as an upper bound — a cut
    file yields the whole records present and stops (the same
    truncation-totality contract the v9 decoder fuzz pinned)."""
    hdr_fmt, rec_fmt = ">HHIIIIBBH", ">IIIHHIIIIHHBBBBHHBBH"
    hdr_size, rec_size = struct.calcsize(hdr_fmt), struct.calcsize(rec_fmt)
    if len(content) < hdr_size:
        return []
    ver, cnt = struct.unpack_from(">HH", content, 0)[:2]
    if ver != 5:
        return []
    out = []
    off = hdr_size
    for _ in range(cnt):
        if off + rec_size > len(content):
            break  # truncated capture: keep the complete records
        (
            src, dst, _nh, _in, _out2,
            pkts, octets, _first, _last,
            sp, dp, _pad, flags, proto, _tos,
            _sas, _das, _sm, _dm, _p2,
        ) = struct.unpack_from(rec_fmt, content, off)
        off += rec_size
        out.append(
            (
                f"{src >> 24}.{(src >> 16) & 255}.{(src >> 8) & 255}.{src & 255}",
                f"{dst >> 24}.{(dst >> 16) & 255}.{(dst >> 8) & 255}.{dst & 255}",
                sp, dp, int(proto), int(pkts), int(octets),
            )
        )
    return out


def write_netflow_v5(
    path: str,
    n_files: int = 4,
    records_per_file: int = 30,
    sampling_interval: int = 0,
) -> None:
    """Deterministic NetFlow v5 export packets, one per 'rotation': the
    24-byte header + 48-byte records the real nfcapd wire/disk world
    speaks (field layout per Cisco's published v5 spec).

    ``sampling_interval`` > 0 writes the header's sampling field with
    mode 01 (packet-sampled) in the top 2 bits and the interval in the
    low 14 — the input `flows_sampling_correction` corrects for."""
    os.makedirs(path, exist_ok=True)
    sampling = (0b01 << 14) | sampling_interval if sampling_interval else 0
    for f in range(n_files):
        recs = []
        for r in range(records_per_file):
            src = (10 << 24) | (f << 16) | (r % 250)
            dst = (192 << 24) | (168 << 16) | (1 << 8) | (r % 250)
            pkts = 1 + (r * 3 + f) % 100
            octets = pkts * (64 + (r * 13) % 1400)
            recs.append(
                _NF5_RECORD.pack(
                    src, dst, 0, 1, 2,
                    pkts, octets,
                    1000 * r, 1000 * r + 500,
                    1024 + r, 443,
                    0, 0x18, 6, 0,
                    64512, 64513, 24, 24, 0,
                )
            )
        header = _NF5_HEADER.pack(
            5, len(recs), 3_600_000, 1_709_251_200 + 300 * f, 0, 0, 0, 0, sampling
        )
        with open(os.path.join(path, f"nfcapd.{f:04d}"), "wb") as fh:
            fh.write(header + b"".join(recs))


@register("flows_netflow_v5_decode")  # rows-only: binary fixture is
# synthesized locally; the decode↔generator roundtrip is pinned in tests
def flows_netflow_v5_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary NetFlow v5 decode — the closest in-env stand-in for
    the reference's `nfdump -r` hot path (no nfdump binary here, but the
    v5 wire format is public and struct-decodable): `binaryFile` source
    loads each capture whole, a mapInPandas worker struct-unpacks the
    24-byte header + 48-byte records, and the rows aggregate per file.

    Scale shape: one capture file = one row into the Python worker =
    one decode unit, so parallelism is file-count (exactly how rotations
    shard); the unpack loop is O(file bytes) with zero JVM↔Python
    chatter beyond the Arrow batch. For long-term ingest this decode
    body belongs inside the Python DataSource
    (`source_python_datasource`) — same loop, scheduled by Spark."""
    import pandas as pd

    base = tempfile.mkdtemp(prefix="sf_nf5_")
    write_netflow_v5(base)

    def decode(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                cap = os.path.basename(path)
                out.extend((cap, *t) for t in decode_v5(bytes(content)))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "capture", "sa", "da", "sp", "dp", "pr", "ipkt", "ibyt",
                    ],
                )

    raw = spark.read.format("binaryFile").load(os.path.join(base, "nfcapd.*"))
    flows = raw.select("path", "content").mapInPandas(
        decode,
        "capture string, sa string, da string, sp int, dp int, pr int,"
        " ipkt long, ibyt long",
    )
    return flows.groupBy("capture").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ipkt").alias("pkts"),
        F.sum("ibyt").alias("bytes"),
        F.countDistinct("sa").alias("n_src"),
    )


@register(
    "flows_blacklist_match",
    oracle="""
    WITH f AS (
      SELECT (10 * 16777216) + ((user_id % 50) * 256) + (event_id % 250)
               AS sa_num,
             '10.0.' || CAST(user_id % 50 AS VARCHAR) || '.'
               || CAST(event_id % 250 AS VARCHAR) AS sa,
             user_id,
             CAST(FLOOR(value * 1000) AS BIGINT) AS ibyt
      FROM events WHERE value IS NOT NULL
    ),
    r(rule, lo, hi) AS (VALUES
      ('exact:10.0.7.7',   167773959, 167773959),
      ('net:10.0.13.0/24', 167775488, 167775743),
      ('net:10.0.40.0/22', 167782400, 167783423),
      ('exact:10.0.49.249', 167784953, 167784953),
      ('net:10.0.8.0/23',  167774208, 167774719))
    SELECT r.rule,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(COUNT(DISTINCT f.sa) AS BIGINT) AS n_src,
           CAST(SUM(f.ibyt) AS BIGINT) AS total_bytes
    FROM r JOIN f ON f.sa_num BETWEEN r.lo AND r.hi
    GROUP BY r.rule
    """,
)
def flows_blacklist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threat-intel blacklist matching — THE SOC query the reference's
    users run all day [P — nfsen/nfdump practice]: which flows touched
    a listed address or network, per rule, with volume. Exact entries
    and CIDR prefixes compile to the SAME [lo, hi] numeric-range form
    (an exact IP is lo = hi), so one mechanism serves both — and the
    same ranges push down to parquet row-group stats when run against
    the at-rest table (`FlowService.query_filter` shares the machinery).

    Scale shape: the rules table is tiny and BROADCASTS (the legitimate
    broadcast — intel lists are thousands of rows, flows are the 100 TB
    side); the range join is per-row arithmetic against the broadcast
    ranges, never a shuffle of the corpus; one aggregation per rule
    follows. `join_ip_prefix_lookup` is the scale path when the prefix
    table itself grows large (bucketed equi-join)."""
    from ..functions.ip import cidr_range

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    f = e.select(
        (
            F.lit(10 * 16777216)
            + (F.col("user_id") % 50) * 256
            + (F.col("event_id") % 250)
        ).alias("sa_num"),
        F.concat(
            F.lit("10.0."),
            (F.col("user_id") % 50).cast("string"),
            F.lit("."),
            (F.col("event_id") % 250).cast("string"),
        ).alias("sa"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt"),
    )
    rules = []
    for spec in ["10.0.7.7", "10.0.13.0/24", "10.0.40.0/22", "10.0.49.249",
                 "10.0.8.0/23"]:
        lo, hi = cidr_range(spec if "/" in spec else f"{spec}/32")
        label = ("net:" if "/" in spec else "exact:") + spec
        rules.append((label, lo, hi))
    r = spark.createDataFrame(rules, "rule string, lo long, hi long")
    return (
        f.join(
            F.broadcast(r),
            (F.col("sa_num") >= F.col("lo")) & (F.col("sa_num") <= F.col("hi")),
        )
        .groupBy("rule")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flows"),
            F.countDistinct("sa").cast("bigint").alias("n_src"),
            F.sum("ibyt").cast("bigint").alias("total_bytes"),
        )
    )


_GAP_S = 300  # stitch gap: one rotation interval [P]


@register(
    "flows_stitch_rotation",
    oracle=f"""
    WITH s AS (
      SELECT user_id % 500                            AS k,
             event_id,
             -- FLOOR before cast: DuckDB's double->bigint cast ROUNDS
             -- sub-second fractions, Spark's unix_timestamp floors
             CAST(FLOOR(epoch(ts)) AS BIGINT)         AS t,
             CAST(FLOOR(epoch(ts)) AS BIGINT)
               + CAST(FLOOR(value * 10) AS BIGINT) % 120 AS te,
             CAST(FLOOR(value * 1000) AS BIGINT)      AS byt
      FROM events WHERE value IS NOT NULL
    ),
    c1 AS (
      SELECT *, LAG(te) OVER (PARTITION BY k ORDER BY t, event_id) AS pte
      FROM s
    ),
    c2 AS (
      SELECT *, CASE WHEN pte IS NULL OR t - pte > {_GAP_S}
                     THEN 1 ELSE 0 END AS nf
      FROM c1
    ),
    c3 AS (
      SELECT *, SUM(nf) OVER (PARTITION BY k ORDER BY t, event_id)
                AS island
      FROM c2
    ),
    fl AS (
      SELECT k, island, COUNT(*) AS n_seg,
             CAST(SUM(byt) AS BIGINT) AS bytes,
             MAX(te) - MIN(t) AS dur_s
      FROM c3 GROUP BY k, island
    )
    SELECT n_seg,
           CAST(COUNT(*) AS BIGINT)    AS n_flows,
           CAST(SUM(bytes) AS BIGINT)  AS total_bytes,
           CAST(SUM(dur_s) AS BIGINT)  AS total_dur_s
    FROM fl GROUP BY n_seg
    """,
)
def flows_stitch_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stitch flow segments split across rotation files back into
    logical flows: same flow key, next segment starting within one
    rotation interval of the previous segment's end (gaps-and-islands
    on the per-key timeline), then report the stitched-length
    distribution. nfcapd cuts every long-lived flow at its 5-minute
    boundary [P — the nfdump `-a` re-aggregation exists precisely for
    this], so un-stitched per-flow analytics (durations, rates,
    beaconing periods) are systematically wrong.

    Scale shape: ONE hash exchange on the flow key feeds both the lag
    window and the island aggregation (same partitioning, no second
    shuffle); the island id is a running sum of integer flags — all
    arithmetic in epoch seconds and exact byte counts. The final
    distribution rollup is a bounded second agg. At 100 TB the flow
    key is (sa, da, sp, dp, pr) — same plan, wider key."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t = F.unix_timestamp("ts").cast("bigint")
    s = e.select(
        (F.col("user_id") % 500).alias("k"),
        "event_id",
        t.alias("t"),
        (t + F.floor(F.col("value") * 10).cast("bigint") % 120).alias("te"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("byt"),
    )
    w = Window.partitionBy("k").orderBy("t", "event_id")
    c = s.withColumn("pte", F.lag("te").over(w)).withColumn(
        "nf",
        F.when(
            F.col("pte").isNull() | (F.col("t") - F.col("pte") > _GAP_S), 1
        ).otherwise(0),
    )
    fl = (
        c.withColumn("island", F.sum("nf").over(w))
        .groupBy("k", "island")
        .agg(
            F.count(F.lit(1)).alias("n_seg"),
            F.sum("byt").alias("bytes"),
            (F.max("te") - F.min("t")).alias("dur_s"),
        )
    )
    return fl.groupBy("n_seg").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("bytes").alias("total_bytes"),
        F.sum("dur_s").alias("total_dur_s"),
    )


# ---------------------------------------------------------------------------
# flows_traffic_matrix
# ---------------------------------------------------------------------------
@register(
    "flows_traffic_matrix",
    oracle="""
    WITH f AS (
      SELECT 167772160 + (user_id % 256) * 256 + 9          AS sa_num,
             167772160 + ((user_id * 7 + event_id) % 256) * 256 + 21
                                                            AS da_num,
             CAST(FLOOR(value * 1000) AS BIGINT) AS bytes
      FROM events WHERE value IS NOT NULL
    ),
    px(lo, hi, label) AS (VALUES
      (167772160, 167788543, 'net-a'), (167788544, 167804927, 'net-b'),
      (167804928, 167809023, 'net-c'), (167809024, 167813119, 'net-d'),
      (167813120, 167821311, 'net-e'), (167821312, 167837695, 'net-f')),
    m AS (
      SELECT s.label AS src_net, d.label AS dst_net,
             CAST(COUNT(*) AS BIGINT) AS n_flows,
             CAST(SUM(f.bytes) AS BIGINT) AS total_bytes
      FROM f
      JOIN px s ON f.sa_num BETWEEN s.lo AND s.hi
      JOIN px d ON f.da_num BETWEEN d.lo AND d.hi
      GROUP BY 1, 2
    )
    SELECT * FROM m ORDER BY total_bytes DESC, src_net, dst_net LIMIT 20
    """,
)
def flows_traffic_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-network x destination-network traffic matrix (the nfdump
    bidirectional stat concept [P] — 'who talks to whom, in bytes'):
    BOTH flow endpoints resolved to their covering prefix via the same
    bucket-exploded longest-prefix machinery as `join_ip_prefix_lookup`
    (equi-join on the /20 bucket, range residual — never
    O(flows x prefixes)), then one matrix rollup and a deterministic
    top-20 by bytes. Two broadcast enrichment joins back-to-back — the
    flow side never shuffles until the bounded matrix aggregation;
    the top-20 plans as TakeOrderedAndProject."""
    from ..functions.ip import ipv4_to_num
    from .joins import _BUCKET_BITS, _prefix_rows

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sa = F.concat(
        F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".9")
    )
    da = F.concat(
        F.lit("10.0."),
        ((F.col("user_id") * 7 + F.col("event_id")) % 256).cast("string"),
        F.lit(".21"),
    )
    flows = e.select(
        ipv4_to_num(sa).alias("sa_num"),
        ipv4_to_num(da).alias("da_num"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("bytes"),
    )
    px = spark.createDataFrame(
        _prefix_rows(), "lo BIGINT, hi BIGINT, label STRING"
    ).withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.shiftright("lo", _BUCKET_BITS),
                F.shiftright("hi", _BUCKET_BITS),
            )
        ),
    )
    s_px = px.select(
        F.col("bucket").alias("s_bucket"), F.col("lo").alias("s_lo"),
        F.col("hi").alias("s_hi"), F.col("label").alias("src_net"),
    )
    d_px = px.select(
        F.col("bucket").alias("d_bucket"), F.col("lo").alias("d_lo"),
        F.col("hi").alias("d_hi"), F.col("label").alias("dst_net"),
    )
    enriched = (
        flows.withColumn("s_bucket", F.shiftright("sa_num", _BUCKET_BITS))
        .join(F.broadcast(s_px), "s_bucket")
        .filter(F.col("sa_num").between(F.col("s_lo"), F.col("s_hi")))
        .withColumn("d_bucket", F.shiftright("da_num", _BUCKET_BITS))
        .join(F.broadcast(d_px), "d_bucket")
        .filter(F.col("da_num").between(F.col("d_lo"), F.col("d_hi")))
    )
    return (
        enriched.groupBy("src_net", "dst_net")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("bytes").alias("total_bytes"),
        )
        .orderBy(F.desc("total_bytes"), "src_net", "dst_net")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# flows_port_services
# ---------------------------------------------------------------------------
_SERVICES = [
    (22, "ssh"), (25, "smtp"), (53, "dns"), (80, "http"),
    (123, "ntp"), (443, "https"), (3389, "rdp"),
]
_SVC_SQL = ", ".join(f"({p}, '{s}')" for p, s in _SERVICES)


@register(
    "flows_port_services",
    oracle=f"""
    WITH f AS (
      SELECT (user_id * 13 + event_id) % 1024 AS dp,
             '10.0.' || CAST(user_id % 200 AS VARCHAR) AS sa,
             CAST(FLOOR(value * 1000) AS BIGINT) AS ibyt
      FROM events WHERE value IS NOT NULL
    ),
    svc(port, service) AS (VALUES {_SVC_SQL})
    SELECT COALESCE(s.service, 'other') AS service,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(SUM(f.ibyt) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT f.sa) AS BIGINT) AS n_hosts,
           CAST(SUM(f.ibyt) * 10000 // (SELECT SUM(ibyt) FROM f) AS BIGINT)
             AS byte_share_bp
    FROM f LEFT JOIN svc s ON f.dp = s.port
    GROUP BY 1
    """,
)
def flows_port_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Destination-port service classification and traffic mix — the
    nfdump port-stat concept [P]: every flow labeled with its well-known
    service (unmatched ports roll up to 'other'), then flows/bytes/
    distinct-host counts and byte share per service. The first question
    an operator asks of a new capture ('what IS this traffic?') and the
    denominator for every per-service anomaly key
    (`flows_ddos_amplification`, `flows_beaconing_detection`).

    The service map is a broadcast LEFT join (tiny dim — label survives
    as 'other' on miss, never dropping flows); the 1-row byte total
    broadcasts into the share computation; one bounded service rollup
    with a two-phase distinct."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    f = e.select(
        ((F.col("user_id") * 13 + F.col("event_id")) % 1024).alias("dp"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 200).cast("string")).alias(
            "sa"
        ),
        F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt"),
    )
    svc = spark.createDataFrame(_SERVICES, "port INT, service STRING")
    tot = f.agg(F.sum("ibyt").alias("tot"))
    return (
        f.join(F.broadcast(svc), f.dp == svc.port, "left")
        .select(
            F.coalesce("service", F.lit("other")).alias("service"),
            "sa",
            "ibyt",
        )
        .groupBy("service")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("ibyt").alias("total_bytes"),
            F.count_distinct("sa").alias("n_hosts"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "service",
            "n_flows",
            "total_bytes",
            "n_hosts",
            F.expr("CAST(total_bytes * 10000 DIV tot AS BIGINT)").alias(
                "byte_share_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# flows_exporter_dedup
# ---------------------------------------------------------------------------
@register(
    "flows_exporter_dedup",
    oracle="""
    WITH base AS (
      SELECT '10.0.' || CAST(user_id % 50 AS VARCHAR) AS sa,
             '10.0.' || CAST((user_id + event_id) % 50 AS VARCHAR) AS da,
             CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) AS minute_b,
             CAST(FLOOR(value * 1000) AS BIGINT) AS ibyt,
             user_id
      FROM events WHERE value IS NOT NULL
    ),
    seen AS (  -- router r1 sees everything; r2 overlaps on user_id%3=0
      SELECT sa, da, minute_b, ibyt, 'r1' AS ra FROM base
      UNION ALL
      SELECT sa, da, minute_b, ibyt, 'r2' FROM base WHERE user_id % 3 = 0
    ),
    dedup AS (
      SELECT sa, da, minute_b, ibyt,
             COUNT(*) AS n_copies, MIN(ra) AS kept_ra
      FROM seen GROUP BY sa, da, minute_b, ibyt
    )
    SELECT CAST((SELECT COUNT(*) FROM seen) AS BIGINT) AS n_records,
           CAST(COUNT(*) AS BIGINT) AS n_unique_flows,
           CAST((SELECT COUNT(*) FROM seen) - COUNT(*) AS BIGINT)
             AS n_dup_records,
           CAST((SELECT SUM(ibyt) FROM seen) AS BIGINT) AS bytes_reported,
           CAST(SUM(ibyt) AS BIGINT) AS bytes_actual,
           -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
           CAST(COALESCE(count_if(n_copies > 1), 0) AS BIGINT) AS n_multi_exporter
    FROM dedup
    """,
)
def flows_exporter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-exporter flow dedup — the nfdump double-counting problem:
    when two routers on the traffic path both export the same flow,
    naive totals inflate. Records are keyed by the flow identity
    (endpoints, minute bucket, byte count); one record per key
    survives (deterministic MIN exporter), and the report quantifies
    the inflation: reported vs actual bytes, duplicate record count,
    multi-exporter flow count. Demo topology: r1 sees all traffic, r2
    overlaps on a third of users (the partial-overlap case that makes
    naive SUM wrong but per-exporter SUM also wrong).

    One hash aggregate on the flow key does the dedup — at 100 TB the
    shuffle carries one row per unique flow, and both exporters'
    copies meet in the same reducer (no self-join). The totals are
    1-row sibling aggregates."""
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias(
                "sa"
            ),
            F.concat(
                F.lit("10.0."),
                ((F.col("user_id") + F.col("event_id")) % 50).cast("string"),
            ).alias("da"),
            F.floor(F.unix_micros("ts") / 60000000).cast("bigint").alias("minute_b"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt"),
            "user_id",
        )
    )
    seen = base.select(
        "sa", "da", "minute_b", "ibyt", F.lit("r1").alias("ra")
    ).unionAll(
        base.filter(F.col("user_id") % 3 == 0).select(
            "sa", "da", "minute_b", "ibyt", F.lit("r2").alias("ra")
        )
    )
    dedup = seen.groupBy("sa", "da", "minute_b", "ibyt").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("ra").alias("kept_ra")
    )
    totals = seen.agg(
        F.count(F.lit(1)).alias("n_records"), F.sum("ibyt").alias("bytes_reported")
    )
    report = dedup.agg(
        F.count(F.lit(1)).alias("n_unique_flows"),
        F.sum("ibyt").alias("bytes_actual"),
        F.count_if(F.col("n_copies") > 1).alias("n_multi_exporter"),
    )
    return totals.crossJoin(F.broadcast(report)).select(
        F.col("n_records").cast("bigint").alias("n_records"),
        F.col("n_unique_flows").cast("bigint").alias("n_unique_flows"),
        (F.col("n_records") - F.col("n_unique_flows"))
        .cast("bigint")
        .alias("n_dup_records"),
        F.col("bytes_reported").cast("bigint").alias("bytes_reported"),
        F.col("bytes_actual").cast("bigint").alias("bytes_actual"),
        F.col("n_multi_exporter").cast("bigint").alias("n_multi_exporter"),
    )


# ---------------------------------------------------------------------------
# flows_prefix_rollup
# ---------------------------------------------------------------------------
@register(
    "flows_prefix_rollup",
    oracle="""
    WITH f AS (
      SELECT (user_id % 50) * 65536 + (event_id % 256) * 256
               + (user_id % 7) AS sa_num,
             CAST(FLOOR(COALESCE(value, 0) * 1000) AS BIGINT) AS ibyt
      FROM events
    ),
    levels AS (
      SELECT 8 AS masklen, (sa_num // 16777216) * 16777216 AS prefix,
             ibyt FROM f
      UNION ALL
      SELECT 16, (sa_num // 65536) * 65536, ibyt FROM f
      UNION ALL
      SELECT 24, (sa_num // 256) * 256, ibyt FROM f
    ),
    agg AS (
      SELECT masklen, prefix, COUNT(*) AS n_flows, SUM(ibyt) AS bytes
      FROM levels GROUP BY masklen, prefix
    ),
    ranked AS (
      SELECT masklen, prefix, n_flows, bytes,
             ROW_NUMBER() OVER (PARTITION BY masklen
                                ORDER BY bytes DESC, prefix) AS rn
      FROM agg
    )
    SELECT CAST(masklen AS INT) AS masklen,
           CAST(prefix AS BIGINT) AS prefix,
           CAST(n_flows AS BIGINT) AS n_flows,
           CAST(bytes AS BIGINT) AS bytes
    FROM ranked WHERE rn <= 5 ORDER BY masklen, bytes DESC, prefix
    """,
)
def flows_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-prefix traffic rollup — nfdump's src-network aggregation
    at three granularities at once: flows aggregate under their /8,
    /16 and /24 supernets (integer address masking), reporting the
    top-5 prefixes per level. The drill-down artifact a NOC works
    from: /8 says which org, /24 says which subnet.

    The three mask levels ride ONE scan via an explode of masked
    copies (3 rows per flow — the GROUPING SETS shape, spelled
    explicitly so both engines share it); masking is integer div/mul
    codegen, never string CIDR parsing; per-level top-5 prunes via
    WindowGroupLimit. At 100 TB the rollup shuffle carries one row per
    (level, prefix)."""
    f = table(spark, sf_dir, "events").select(
        (
            (F.col("user_id") % 50) * 65536
            + (F.col("event_id") % 256) * 256
            + (F.col("user_id") % 7)
        ).alias("sa_num"),
        F.floor(F.coalesce(F.col("value"), F.lit(0)) * 1000)
        .cast("bigint")
        .alias("ibyt"),
    )
    levels = None
    for masklen, block in [(8, 16777216), (16, 65536), (24, 256)]:
        lvl = f.select(
            F.lit(masklen).alias("masklen"),
            (F.floor(F.col("sa_num") / block) * block).alias("prefix"),
            "ibyt",
        )
        levels = lvl if levels is None else levels.unionAll(lvl)
    agg = levels.groupBy("masklen", "prefix").agg(
        F.count(F.lit(1)).alias("n_flows"), F.sum("ibyt").alias("bytes")
    )
    w = Window.partitionBy("masklen").orderBy(F.desc("bytes"), "prefix")
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("masklen").cast("int").alias("masklen"),
            F.col("prefix").cast("bigint").alias("prefix"),
            F.col("n_flows").cast("bigint").alias("n_flows"),
            F.col("bytes").cast("bigint").alias("bytes"),
        )
        .orderBy("masklen", F.desc("bytes"), "prefix")
    )


# ---------------------------------------------------------------------------
# flows_billing_95th
# ---------------------------------------------------------------------------
@register(
    "flows_billing_95th",
    oracle="""
    WITH buckets AS (
      SELECT '10.0.' || CAST(user_id % 10 AS VARCHAR) AS customer,
             CAST(FLOOR(epoch_us(ts) / 600000000) AS BIGINT) AS b10,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 1000) AS BIGINT)) AS bytes
      FROM events GROUP BY 1, 2
    )
    SELECT customer,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           ROUND(quantile_cont(bytes, 0.95), 4) AS p95_bytes,
           CAST(MAX(bytes) AS BIGINT) AS peak_bytes,
           ROUND(MAX(bytes) - quantile_cont(bytes, 0.95), 4)
             AS burst_headroom
    FROM buckets GROUP BY customer ORDER BY customer
    """,
)
def flows_billing_95th(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95th-percentile (burstable) bandwidth billing — the ISP
    industry's standard rule: sample traffic per customer per 10-minute
    interval, bill the 95th percentile of the samples, and the top 5%
    of intervals burst free. Reports the billable p95, the absolute
    peak, and the headroom the customer burned for free — THE number a
    flow-accounting deployment (the reference's whole reason to exist)
    produces monthly.

    One (customer, bucket) rollup (integer byte sums over integer
    bucket ids), then an exact per-customer percentile over the
    bounded per-customer sample sets — two exchanges; at 100 TB the
    sample table is |customers|·|intervals|, tiny next to flows."""
    b = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.concat(F.lit("10.0."), (F.col("user_id") % 10).cast("string")).alias(
                "customer"
            ),
            F.floor(F.unix_micros("ts") / 600000000).cast("bigint").alias("b10"),
        )
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 1000).cast("bigint")
            ).alias("bytes")
        )
    )
    return (
        b.groupBy("customer")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
            F.round(F.expr("percentile(bytes, 0.95)"), 4).alias("p95_bytes"),
            F.max("bytes").cast("bigint").alias("peak_bytes"),
            F.round(
                F.max("bytes") - F.expr("percentile(bytes, 0.95)"), 4
            ).alias("burst_headroom"),
        )
        .orderBy("customer")
    )


# ---------------------------------------------------------------------------
# flows_elephant_mice
# ---------------------------------------------------------------------------
@register(
    "flows_elephant_mice",
    oracle="""
    WITH f AS (
      SELECT CAST(FLOOR(COALESCE(value, 0) * 1000) AS BIGINT) AS ibyt
      FROM events WHERE COALESCE(value, 0) > 0
    ),
    classed AS (
      SELECT ibyt,
             CASE WHEN ibyt >= 100000 THEN 'elephant'
                  WHEN ibyt >= 10000 THEN 'medium'
                  ELSE 'mouse' END AS cls
      FROM f
    ),
    agg AS (
      SELECT cls, COUNT(*) AS n_flows, SUM(ibyt) AS bytes FROM classed
      GROUP BY cls
    ),
    tot AS (
      SELECT cls, n_flows, bytes,
             SUM(n_flows) OVER () AS tf, SUM(bytes) OVER () AS tb
      FROM agg
    )
    SELECT cls,
           CAST(n_flows AS BIGINT) AS n_flows,
           CAST(bytes AS BIGINT) AS bytes,
           CAST(10000 * n_flows // tf AS BIGINT) AS flow_share_bp,
           CAST(10000 * bytes // tb AS BIGINT) AS byte_share_bp
    FROM tot ORDER BY cls
    """,
)
def flows_elephant_mice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elephant/mice flow taxonomy: flows classed by byte size
    (mouse < 10 KB ≤ medium < 100 KB ≤ elephant) with each class's
    share of FLOWS vs share of BYTES — the canonical heavy-tail
    traffic fact (a few elephants carry most bytes; most flows are
    mice) that drives QoS, sampling-rate and cache design. The
    categorical summary of what `agg_log_histogram` shows per decade
    and `agg_pareto_8020` scores for users.

    Scan-local classification codegen; one 3-group aggregate; shares
    from windows over the 3-row class table; all-integer bp."""
    f = (
        table(spark, sf_dir, "events")
        .filter(F.coalesce(F.col("value"), F.lit(0)) > 0)
        .select(
            F.floor(F.col("value") * 1000).cast("bigint").alias("ibyt")
        )
    )
    cls = (
        F.when(F.col("ibyt") >= 100000, "elephant")
        .when(F.col("ibyt") >= 10000, "medium")
        .otherwise("mouse")
    )
    agg = f.select(cls.alias("cls"), "ibyt").groupBy("cls").agg(
        F.count(F.lit(1)).alias("n_flows"), F.sum("ibyt").alias("bytes")
    )
    wt = Window.partitionBy()
    t = agg.withColumn("tf", F.sum("n_flows").over(wt)).withColumn(
        "tb", F.sum("bytes").over(wt)
    )
    return t.select(
        "cls",
        F.col("n_flows").cast("bigint").alias("n_flows"),
        F.col("bytes").cast("bigint").alias("bytes"),
        F.expr("10000 * n_flows DIV tf").cast("bigint").alias("flow_share_bp"),
        F.expr("10000 * bytes DIV tb").cast("bigint").alias("byte_share_bp"),
    ).orderBy("cls")


# ---------------------------------------------------------------------------
# flows_scan_taxonomy
# ---------------------------------------------------------------------------
@register(
    "flows_scan_taxonomy",
    oracle="""
    WITH f AS (
      SELECT '10.0.' || CAST(user_id % 50 AS VARCHAR) AS sa,
             '10.0.' || CAST((user_id + event_id) % 50 AS VARCHAR) AS da,
             CAST(event_id % 1024 AS INT) AS dp,
             date_trunc('hour', ts) AS hr
      FROM events
    ),
    vertical AS (  -- one source, one target, many ports
      SELECT sa, hr, da, COUNT(DISTINCT dp) AS n_ports
      FROM f GROUP BY sa, hr, da HAVING COUNT(DISTINCT dp) >= 8
    ),
    horizontal AS (  -- one source, one port, many targets
      SELECT sa, hr, dp, COUNT(DISTINCT da) AS n_hosts
      FROM f GROUP BY sa, hr, dp HAVING COUNT(DISTINCT da) >= 8
    )
    SELECT CAST((SELECT COUNT(*) FROM vertical) AS BIGINT)
             AS n_vertical_incidents,
           CAST((SELECT COUNT(DISTINCT sa) FROM vertical) AS BIGINT)
             AS n_vertical_scanners,
           CAST((SELECT COALESCE(MAX(n_ports), 0) FROM vertical) AS BIGINT)
             AS max_ports_hit,
           CAST((SELECT COUNT(*) FROM horizontal) AS BIGINT)
             AS n_horizontal_incidents,
           CAST((SELECT COUNT(DISTINCT sa) FROM horizontal) AS BIGINT)
             AS n_horizontal_scanners,
           CAST((SELECT COALESCE(MAX(n_hosts), 0) FROM horizontal) AS BIGINT)
             AS max_hosts_hit
    """,
)
def flows_scan_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard scan taxonomy, both axes: VERTICAL scans (one
    source probing many PORTS on one target — service discovery
    against a victim) and HORIZONTAL scans (one source probing one
    PORT across many targets — worm/exploit sweep for a known
    vulnerability), each at the ≥8-distinct-in-an-hour threshold.
    `flows_portscan` counts ports per source regardless of target —
    this key separates the two behaviors a SOC triages differently.

    Two distinct-count aggregates over the same scan (vertical keys on
    (sa, hr, da), horizontal on (sa, hr, dp)) — each plans as the
    two-phase dedup-then-count shape with the HAVING on the aggregated
    side; the 1-row summary joins six bounded scalars."""
    f = table(spark, sf_dir, "events").select(
        F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias("sa"),
        F.concat(
            F.lit("10.0."), ((F.col("user_id") + F.col("event_id")) % 50).cast("string")
        ).alias("da"),
        (F.col("event_id") % 1024).cast("int").alias("dp"),
        F.date_trunc("hour", "ts").alias("hr"),
    ).localCheckpoint()  # both taxonomy passes share one synthesis
    vertical = (
        f.groupBy("sa", "hr", "da")
        .agg(F.count_distinct(F.col("dp")).alias("n_ports"))
        .filter(F.col("n_ports") >= 8)
    )
    horizontal = (
        f.groupBy("sa", "hr", "dp")
        .agg(F.count_distinct(F.col("da")).alias("n_hosts"))
        .filter(F.col("n_hosts") >= 8)
    )
    v = vertical.agg(
        F.count(F.lit(1)).alias("n_vertical_incidents"),
        F.count_distinct(F.col("sa")).alias("n_vertical_scanners"),
        F.coalesce(F.max("n_ports"), F.lit(0)).alias("max_ports_hit"),
    )
    h = horizontal.agg(
        F.count(F.lit(1)).alias("n_horizontal_incidents"),
        F.count_distinct(F.col("sa")).alias("n_horizontal_scanners"),
        F.coalesce(F.max("n_hosts"), F.lit(0)).alias("max_hosts_hit"),
    )
    return v.crossJoin(F.broadcast(h)).select(
        F.col("n_vertical_incidents").cast("bigint").alias("n_vertical_incidents"),
        F.col("n_vertical_scanners").cast("bigint").alias("n_vertical_scanners"),
        F.col("max_ports_hit").cast("bigint").alias("max_ports_hit"),
        F.col("n_horizontal_incidents")
        .cast("bigint")
        .alias("n_horizontal_incidents"),
        F.col("n_horizontal_scanners")
        .cast("bigint")
        .alias("n_horizontal_scanners"),
        F.col("max_hosts_hit").cast("bigint").alias("max_hosts_hit"),
    )


# ---------------------------------------------------------------------------
# flows_unidirectional_ratio
# ---------------------------------------------------------------------------
@register(
    "flows_unidirectional_ratio",
    oracle="""
    WITH f AS (
      SELECT DISTINCT
             '10.0.' || CAST(user_id % 50 AS VARCHAR) AS sa,
             '10.0.' || CAST((user_id + event_id) % 50 AS VARCHAR) AS da
      FROM events
      WHERE user_id % 50 <> (user_id + event_id) % 50
    ),
    tagged AS (
      SELECT a.sa, a.da,
             EXISTS (SELECT 1 FROM f b
                     WHERE b.sa = a.da AND b.da = a.sa) AS answered
      FROM f a
    )
    SELECT sa,
           CAST(COUNT(*) AS BIGINT) AS n_peers,
           CAST(count_if(NOT answered) AS BIGINT) AS n_unanswered,
           CAST(10000 * count_if(NOT answered) // COUNT(*) AS BIGINT)
             AS unanswered_bp
    FROM tagged GROUP BY sa
    HAVING count_if(NOT answered) > 0
    ORDER BY sa
    """,
)
def flows_unidirectional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way-traffic audit: for every source, the share of peer
    directions that were never ANSWERED (no flow in the reverse
    direction anywhere in the window) — unanswered traffic is the
    scan / spoofed-source / backscatter signal, and a source whose
    peers are mostly silent is probing, not conversing. The
    per-source asymmetry view of what `flows_biflow` aggregates into
    per-pair direction counters.

    The reverse-existence check is a LEFT SEMI self-join of the
    distinct direction table on the swapped key — the distinct table
    is |active pairs| (far below flow count), both sides hash on the
    same pair domain, and no EXISTS subquery runs per row (the
    oracle's EXISTS is the spec, the semi-join is the plan)."""
    e = table(spark, sf_dir, "events").select("user_id", "event_id")
    f = (
        e.select(
            F.concat(F.lit("10.0."), (F.col("user_id") % 50).cast("string")).alias(
                "sa"
            ),
            F.concat(
                F.lit("10.0."),
                ((F.col("user_id") + F.col("event_id")) % 50).cast("string"),
            ).alias("da"),
        )
        .filter(F.col("sa") != F.col("da"))
        .distinct()
        .localCheckpoint()  # forward and reverse sides share one compute
    )
    rev = f.select(F.col("sa").alias("da"), F.col("da").alias("sa"))
    answered = f.join(rev, ["sa", "da"], "left_semi").withColumn(
        "answered", F.lit(True)
    )
    tagged = f.join(answered, ["sa", "da"], "left").na.fill(
        {"answered": False}
    )
    un = ~F.col("answered")
    return (
        tagged.groupBy("sa")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_peers"),
            F.count_if(un).cast("bigint").alias("n_unanswered"),
            F.expr(
                "10000 * count_if(NOT answered) DIV count(1)"
            )
            .cast("bigint")
            .alias("unanswered_bp"),
        )
        .filter(F.col("n_unanswered") > 0)
        .orderBy("sa")
    )


@register("flows_nffile_decode")  # rows-only: see module docstring
def flows_nffile_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode a directory of nfdump on-disk files (nffile v2) natively
    and aggregate per exporter — the `nfdump -r` replacement running
    as ordinary distributed Spark.

    The demo writes one bz2-compressed and one uncompressed LAYOUT-V2
    capture set plus one LZO LAYOUT-V1 set (an nfdump 1.6 archive —
    r11: v1 decodes natively, so a mixed-era directory is one read),
    decodes them through ``sources.flows.read_nffile_directory``, and
    reports the per-ra rollup every nfsen-style dashboard starts from.
    Plan shape: the only shuffle is the final small groupBy; decode is
    embarrassingly parallel over files."""
    from ..sources.flows import read_nffile_directory
    from ..sources.nffile import (
        COMPRESSION_BZ2,
        COMPRESSION_NONE,
        write_nffile,
        write_nffile_v1,
    )

    base = tempfile.mkdtemp(prefix="sf_nffile_")
    write_nffile(base, n_files=2, records_per_file=24,
                 compression=COMPRESSION_BZ2)
    base2 = tempfile.mkdtemp(prefix="sf_nffile_raw_")
    write_nffile(base2, n_files=1, records_per_file=24,
                 compression=COMPRESSION_NONE, exporter="203.0.113.7")
    base3 = tempfile.mkdtemp(prefix="sf_nffile_16_")
    write_nffile_v1(base3, n_files=1, records_per_file=24)  # v1, bz2 flags
    flows = (
        read_nffile_directory(spark, base, flowsrc="edge-a")
        .unionByName(
            read_nffile_directory(spark, base2, flowsrc="edge-b",
                                  exporter="203.0.113.7")
        )
        .unionByName(read_nffile_directory(spark, base3, flowsrc="legacy-16"))
    )
    return flows.groupBy("flowsrc", "ra").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ipkt").alias("pkts"),
        F.sum("ibyt").alias("bytes"),
        F.count_if(F.col("pr") == "TCP").alias("n_tcp"),
        F.count_if(F.col("sa").contains(":")).alias("n_v6"),
        F.min("ts").alias("first_ts"),
        F.max("te").alias("last_ts"),
        F.round(F.sum("td"), 3).alias("sum_td"),
    ).orderBy("flowsrc", "ra")


@register("flows_nffile_stat")  # rows-only: binary fixture synthesized
# locally; the summary-vs-stat-record reconciliation is pinned in
# tests/test_nffile.py (nfdump -I parity two ways)
def flows_nffile_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nfdump -I` parity: the per-capture-file statistics report
    (total + per-class tcp/udp/icmp/other flow/byte/packet triples,
    first/last seen) over a MIXED-ERA directory — one bz2 layout-v2
    set and one layout-v1 (nfdump 1.6) set — computed by decoding the
    flows, which works identically for both layouts and for real
    archives (no appendix parsing needed). For v1 files nfdump also
    embeds the same summary as the on-disk ``stat_record_t``; the
    golden tests reconcile both copies field-for-field.

    Scale shape: one capture file = one summary row = one whole-file
    decode on an executor (`binaryFile` + Arrow `mapInPandas`, the
    `flows_nffile_decode` unit); zero shuffles before the final
    file-name ORDER BY of a rows-per-file-count output."""
    from ..sources.nffile import (
        COMPRESSION_BZ2,
        STAT_COLUMNS,
        write_nffile,
        write_nffile_v1,
    )

    base = tempfile.mkdtemp(prefix="sf_nfstat_")
    write_nffile(base, n_files=2, records_per_file=24,
                 compression=COMPRESSION_BZ2)
    write_nffile_v1(base, n_files=1, records_per_file=24)

    def summarize(batches):
        import os as _os

        import pandas as pd

        from nfdump2clickhouse_spark.sources.nffile import nffile_summary

        for pdf in batches:
            rows = [
                (_os.path.basename(path), *nffile_summary(bytes(content)))
                for path, content in zip(pdf["path"], pdf["content"])
            ]
            if rows:
                yield pd.DataFrame(rows, columns=["file", *STAT_COLUMNS])

    schema = "file string, " + ", ".join(f"{c} long" for c in STAT_COLUMNS)
    raw = spark.read.format("binaryFile").load(base)
    return (
        raw.select("path", "content")
        .mapInPandas(summarize, schema)
        .orderBy("file")
    )


@register("flows_netflow_v9_decode")  # rows-only: binary fixture is
# synthesized locally; the decode↔generator roundtrip (incl. the
# template-cache-across-packets property) is pinned in tests
def flows_netflow_v9_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-based NetFlow v9 + IPFIX decode through the Python
    DataSource API — the 'replace the nfdump subprocess' step after
    `flows_netflow_v5_decode` (fixed 48-byte records need no state; v9
    data FlowSets are undecodable without the template records cached
    from earlier packets, so the decoder in
    ``sources/netflow_v9.decode_flow_stream`` keeps a per-(source,
    template-id) cache while walking each capture).

    Scale shape: one InputPartition per rotation file (exactly how
    nfcapd shards), the stateful decode runs whole-file on the executor
    — template state never crosses partitions because exporters resend
    templates per rotation — and Spark owns scheduling, retries, and
    Arrow transfer. The demo decodes a v9 directory AND an IPFIX
    directory (enterprise-bit skip exercised) and aggregates per
    capture; the generators' expected tuples are the test oracle."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    from ..sources.netflow_v9 import write_netflow_v9, write_ipfix

    base = tempfile.mkdtemp(prefix="sf_nf9_")
    write_netflow_v9(base)
    write_ipfix(base)

    class V9Reader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")

        def partitions(self):
            return [
                InputPartition(os.path.join(self.path, f))
                for f in sorted(os.listdir(self.path))
            ]

        def read(self, partition):
            from nfdump2clickhouse_spark.sources.netflow_v9 import (
                decode_flow_stream,
            )

            fpath = partition.value
            with open(fpath, "rb") as fh:
                content = fh.read()
            capture = os.path.basename(fpath)
            for t in decode_flow_stream(content):
                yield (capture, *t)

    class V9Source(DataSource):
        @classmethod
        def name(cls):
            return "wave15_netflow_v9"

        def schema(self):
            # full SURVEY §1.2 contract (ts/te epoch-ms ints at this
            # layer; cast below): ts te td sa da sp dp pr flg ipkt ibyt ra
            return (
                "capture string, ts long, te long, td double, sa string,"
                " da string, sp int, dp int, pr string, flg string,"
                " ipkt long, ibyt long, ra string"
            )

        def reader(self, schema):
            return V9Reader(self.options)

    spark.dataSource.register(V9Source)
    flows = spark.read.format("wave15_netflow_v9").load(base)
    return flows.groupBy("capture").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ipkt").alias("pkts"),
        F.sum("ibyt").alias("bytes"),
        F.countDistinct("sa").alias("n_src"),
        F.count_if(F.col("pr") == "UDP").alias("n_udp"),
        F.count_if(F.col("sa").contains(":")).alias("n_v6"),
        F.min("ts").alias("first_ms"),
        F.max("te").alias("last_ms"),
        F.round(F.sum("td"), 3).alias("sum_td"),
        F.countDistinct("ra").alias("n_exporters"),
    )


# --- sampled-NetFlow counter correction --------------------------------------
@register("flows_sampling_correction")  # rows-only: binary fixture is
# synthesized locally; corrected == raw x interval is pinned in tests
def flows_sampling_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-NetFlow renormalization — routers exporting 1-in-N
    packet-sampled v5 put mode=01 and the interval N in the header's
    sampling field, and every consumer (nfdump included) must scale
    packet/byte counters by N before totals mean anything. The decode
    extends `flows_netflow_v5_decode`: struct-unpack per capture in
    mapInPandas, read the header sampling field, and emit BOTH raw and
    xN-corrected totals per capture so the correction is auditable.

    Scale shape: identical to the v5 decoder — one capture per Python
    batch row, O(file bytes) unpack, parallelism = file count."""
    import struct as st

    from .wave10 import write_netflow_v5

    base = tempfile.mkdtemp(prefix="sf_nf5s_")
    write_netflow_v5(base, n_files=3, records_per_file=20, sampling_interval=100)

    hdr_fmt, rec_fmt = ">HHIIIIBBH", ">IIIHHIIIIHHBBBBHHBBH"
    hdr_size, rec_size = st.calcsize(hdr_fmt), st.calcsize(rec_fmt)

    def decode(batches):
        import struct as stt

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                if len(content) < hdr_size:
                    continue
                hdr = stt.unpack_from(hdr_fmt, content, 0)
                ver, cnt, sampling = hdr[0], hdr[1], hdr[8]
                if ver != 5:
                    continue
                mode, interval = sampling >> 14, sampling & 0x3FFF
                scale = interval if (mode == 1 and interval > 0) else 1
                off = hdr_size
                for _ in range(cnt):
                    rec = stt.unpack_from(rec_fmt, content, off)
                    off += rec_size
                    pkts, octets = rec[5], rec[6]
                    out.append(
                        (
                            os.path.basename(path),
                            int(scale),
                            int(pkts),
                            int(octets),
                        )
                    )
            if out:
                yield pd.DataFrame(
                    out, columns=["capture", "scale", "ipkt", "ibyt"]
                )

    raw = spark.read.format("binaryFile").load(os.path.join(base, "nfcapd.*"))
    flows = raw.select("path", "content").mapInPandas(
        decode, "capture string, scale int, ipkt long, ibyt long"
    )
    return flows.groupBy("capture", "scale").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ipkt").alias("raw_pkts"),
        F.sum("ibyt").alias("raw_bytes"),
        (F.sum("ipkt") * F.first("scale")).alias("est_pkts"),
        (F.sum("ibyt") * F.first("scale")).alias("est_bytes"),
    )


# --- v9 options-template sampling correction ---------------------------------
@register("flows_v9_sampling_options")  # rows-only: binary fixture is
# synthesized locally; interval extraction + scaling pinned in tests
def flows_v9_sampling_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v9 OPTIONS-template decode applied: the exporter announces its
    1-in-N sampling rate in an options data record (scope + option
    fields, RFC 3954 §6.1 — a different record grammar from flow
    templates), and the consumer must scale that source's counters by
    N. This is the template-era form of `flows_sampling_correction`'s
    v5 header field, and it closes the decoder's former
    'options templates: cache-only, skip' gap: `decode_flow_stream`
    now parses scope/option field lists, caches them per (source,
    template id), and extracts SAMPLING_INTERVAL (type 34) from option
    data records into per-source metadata.

    Scale shape: identical to the other binary decoders — one capture
    per mapInPandas row, stateful decode whole-file, per-capture agg."""
    from ..sources.netflow_v9 import write_netflow_v9

    base = tempfile.mkdtemp(prefix="sf_nf9o_")
    write_netflow_v9(base, n_files=3, records_per_file=16, sampling_interval=50)

    def decode(batches):
        from nfdump2clickhouse_spark.sources.netflow_v9 import (
            decode_flow_stream,
        )

        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                flows, meta = decode_flow_stream(content, with_meta=True)
                interval = max(meta["sampling"].values(), default=1)
                cap = os.path.basename(path)
                for t in flows:  # FLOW_COLUMNS order; ipkt/ibyt at -3/-2
                    out.append((cap, int(interval), int(t[-3]), int(t[-2])))
            if out:
                yield pd.DataFrame(
                    out, columns=["capture", "interval", "ipkt", "ibyt"]
                )

    raw = spark.read.format("binaryFile").load(os.path.join(base, "nfcapd.*"))
    flows = raw.select("path", "content").mapInPandas(
        decode, "capture string, interval int, ipkt long, ibyt long"
    )
    return flows.groupBy("capture", "interval").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ipkt").alias("raw_pkts"),
        (F.sum("ipkt") * F.first("interval")).alias("est_pkts"),
        F.sum("ibyt").alias("raw_bytes"),
        (F.sum("ibyt") * F.first("interval")).alias("est_bytes"),
    )
