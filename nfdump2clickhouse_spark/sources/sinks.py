"""Sinks & storage layout (SURVEY §2.1, §4.3.1, §4.3.5).

The reference's at-rest layout is a ClickHouse MergeTree ordered by
time/address with a 90-day TTL [P]. The engine-native equivalent:

- hive-partitioned parquet by (dt, flowsrc)  → partition pruning
- sortWithinPartitions(ts, sa_num) pre-write → row-group min/max stats
  behave like MergeTree's sparse primary index (data skipping)
- retention = dropping whole dt= partitions  → metadata-only, no rewrite
- ClickHouse parity sink = JDBC in foreachBatch with batch-id idempotence
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import FLOWS_TABLE


def write_flows_partitioned(
    df: DataFrame, path: str, mode: str = "append", **options: str
) -> None:
    """Partitioned, sorted columnar layout (MergeTree ORDER BY analog);
    ``options`` are extra parquet writer options for this one write."""
    (
        df.repartition("dt", "flowsrc")
        .sortWithinPartitions("ts", "sa_num")
        .write.mode(mode)
        .partitionBy("dt", "flowsrc")
        .option("compression", "zstd")
        .options(**options)
        .parquet(path)
    )


def overwrite_day_partitions(df: DataFrame, path: str) -> None:
    """Backfill/correction path: replace exactly the (dt, flowsrc)
    partitions present in ``df``, leaving every other partition's files
    untouched — Spark's dynamic partition-overwrite mode scoped to this
    one write. This is how replayed or corrected rotations land without
    rewriting the table and without the duplicate rows a plain append
    would create; at 100 TB an overwrite touches only the affected
    day/source leaves (same layout and sort as the normal sink). The mode
    is a writer option, so the session's own setting, which every other
    thread of the session reads, never changes."""
    write_flows_partitioned(df, path, mode="overwrite", partitionOverwriteMode="dynamic")


def drop_expired_partitions(path: str, keep_days: int, today: date) -> list[str]:
    """TTL expiry as partition drop (SURVEY §3.2 E3') — O(partitions)
    metadata work, never a row rewrite. Local-FS implementation; on a real
    cluster this is a catalog/`ALTER TABLE DROP PARTITION` call."""
    cutoff = today - timedelta(days=keep_days)
    dropped = []
    if not os.path.isdir(path):
        return dropped
    for entry in sorted(os.listdir(path)):
        if entry.startswith("dt="):
            try:
                d = date.fromisoformat(entry[3:])
            except ValueError:
                continue
            if d < cutoff:
                shutil.rmtree(os.path.join(path, entry))
                dropped.append(entry)
    return dropped


def write_bucketed(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    key: str,
    path: str,
    sort_col: str | None = None,
) -> None:
    """Bucketed, bucket-sorted external table (SURVEY §4.2 'co-locate
    joins via bucketing'): both sides of a recurring equi-join written
    with the same bucket count and key join with NO shuffle — the scans
    come up `Bucketed: true` and the Exchange disappears from the join
    subtree. At 100 TB this converts every repeated fact-to-fact join on
    the bucket key from a full network shuffle into a local merge."""
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(sort_col or key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


#: compaction's target output file size, and the leaf partitions it visits
COMPACT_TARGET_FILE_BYTES = 128 * 1024 * 1024
COMPACT_PARTITION_GLOB = "dt=*/flowsrc=*"
#: a leaf's staging dir: a leading "_" and no "=" keep it out of Spark's
#: partition discovery, so readers never see the rewrite, even after a crash
COMPACT_TMP_DIR = "_compact_tmp"
#: the columns of a leaf's files: the table without its partition columns
_LEAF_SCHEMA = StructType(
    [f for f in FLOWS_TABLE.fields if f.name not in ("dt", "flowsrc")]
)


def compact_partitions(spark: SparkSession, path: str) -> list[str]:
    """Small-files compaction — the engine's analog of MergeTree's
    background part merges [P]. Streaming ingest with one micro-batch per
    5-min rotation necessarily writes one small file per batch per
    partition; query-side scan cost then grows with file COUNT, not data
    size. Compaction rewrites each leaf partition into
    ceil(bytes/COMPACT_TARGET_FILE_BYTES) files, preserving the
    (ts, sa_num) sort that buys row-group skipping.

    Runs per-leaf-partition (never a global rewrite), so at 100 TB it is
    driven incrementally: only partitions whose file count exceeds a
    threshold are rewritten, each an independent job touching one
    partition's data. Returns the compacted partition dirs."""
    import glob as _glob
    import math

    compacted = []
    for leaf in sorted(_glob.glob(os.path.join(path, COMPACT_PARTITION_GLOB))):
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        if len(files) <= 1:
            continue
        total = sum(os.path.getsize(os.path.join(leaf, f)) for f in files)
        n_out = max(1, math.ceil(total / COMPACT_TARGET_FILE_BYTES))
        if n_out >= len(files):
            continue
        df = spark.read.schema(_LEAF_SCHEMA).parquet(leaf)
        tmp = os.path.join(leaf, COMPACT_TMP_DIR)
        (
            df.repartition(n_out)
            .sortWithinPartitions("ts", "sa_num")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(tmp)
        )
        for f in files:
            os.remove(os.path.join(leaf, f))
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.replace(os.path.join(tmp, f), os.path.join(leaf, f))
        shutil.rmtree(tmp)
        compacted.append(leaf)
    return compacted


def batch_ledger(write, ledger_path: str | None):
    """``write(batch_df, batch_id)`` as a foreachBatch function keyed by
    batch id: skip the batch if ``batch_<id>.done`` exists in
    ``ledger_path``, else write it and then the marker (no ledger path:
    ``write`` itself). A re-offered batch is a no-op only once its marker
    exists: a crash between the write and the marker writes it again on
    restart (ROADMAP direction 3)."""
    if ledger_path is None:
        return write

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_path, f"batch_{batch_id}.done")
        if os.path.exists(marker):
            return
        write(batch_df, batch_id)
        os.makedirs(ledger_path, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("ok")

    return write_batch


def jdbc_batch_writer(
    url: str,
    table: str,
    properties: dict[str, str],
    ledger_path: str | None = None,
):
    """foreachBatch sink for the ClickHouse-parity path (SURVEY §4.3.5).

    Returns f(batch_df, batch_id) that appends via JDBC behind the
    ``batch_ledger`` (reference parity: file-level retry [P]): a
    re-offered batch is skipped once its marker is written, but a crash
    between the append and the marker appends it again on restart
    (ROADMAP direction 3).
    With a real ClickHouse target, pair with ReplacingMergeTree keyed
    on (batch_id, row) for exactly-once-effect.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id rides along (same contract as parquet_batch_writer):
        # the provenance column replays/audits need downstream
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).jdbc(url, table, properties=properties)

    return batch_ledger(write, ledger_path)


def parquet_batch_writer(path: str, ledger_path: str | None = None):
    """Same ``batch_ledger`` protocol, and the same crash window between
    append and marker, with a parquet target — used where no JDBC
    endpoint exists (tests, offline dev)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(path)
        )

    return batch_ledger(write, ledger_path)
