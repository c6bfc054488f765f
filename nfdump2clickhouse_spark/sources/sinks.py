"""Sinks & storage layout (SURVEY §2.1, §4.3.1, §4.3.5).

The reference's at-rest layout is a ClickHouse MergeTree ordered by
time/address with a 90-day TTL [P]. The engine-native equivalent:

- hive-partitioned parquet by (dt, flowsrc)  → partition pruning
- sortWithinPartitions(ts, sa_num) pre-write → row-group min/max stats
  behave like MergeTree's sparse primary index (data skipping)
- retention = dropping whole dt= partitions  → metadata-only, no rewrite
- every other write to a file target is one staged ``commit``: the new
  files are staged under a hidden dir, a manifest names the files they
  replace and the ledger marker, and applying it is idempotent, so a
  crash at any point rolls forward on the next write
- ClickHouse parity sink = JDBC in foreachBatch with batch-id idempotence
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import date, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import FLOWS_TABLE


def write_flows_partitioned(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned, sorted columnar layout (MergeTree ORDER BY analog)."""
    (
        df.repartition("dt", "flowsrc")
        .sortWithinPartitions("ts", "sa_num")
        .write.mode(mode)
        .partitionBy("dt", "flowsrc")
        .option("compression", "zstd")
        .parquet(path)
    )


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


#: the hidden dir of a commit target that holds each commit's staged files
#: (``<name>/``) and its manifest (``<name>.manifest``); a leading "_" and
#: no "=" keep it out of Spark's partition discovery and out of the file
#: stream source, so readers never see a staged file, even after a crash
COMMIT_DIR = "_commits"
#: the leaf partitions of the flows table
LEAF_GLOB = "dt=*/flowsrc=*"


def commit(path: str, name: str, stage, marker: str | None = None) -> bool:
    """Write files into ``path`` as one commit named ``name``.

    First any commit a crash left behind is rolled forward, and a commit
    whose ``marker`` already exists is skipped (returns False). Then
    ``stage(dir)`` writes the new files under ``<path>/_commits/<name>/``,
    laid out as they will sit in ``path``, and returns the files (relative
    to ``path``) they replace. The manifest of those files and the marker
    is written atomically, and applying it moves the staged files in.
    Staging again under the same name discards what an interrupted
    ``stage`` left, so the unit of retry is the whole commit."""
    roll_forward(path)
    if marker is not None and os.path.exists(marker):
        return False
    staged = os.path.join(path, COMMIT_DIR, name)
    shutil.rmtree(staged, ignore_errors=True)
    os.makedirs(staged)
    manifest = {"remove": list(stage(staged) or ()), "marker": marker}
    with open(staged + ".manifest.tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(staged + ".manifest.tmp", staged + ".manifest")
    _apply(path, name)
    return True


def roll_forward(path: str) -> None:
    """Finish every commit under ``path`` whose manifest exists: once the
    manifest is written, the commit has happened."""
    commits = os.path.join(path, COMMIT_DIR)
    if os.path.isdir(commits):
        for entry in sorted(os.listdir(commits)):
            # a staged dir may end in ".manifest" too (a capture's name)
            if entry.endswith(".manifest") and os.path.isfile(os.path.join(commits, entry)):
                _apply(path, entry[: -len(".manifest")])


def _apply(path: str, name: str) -> None:
    """Apply commit ``name``'s manifest: remove the files it lists, each
    with its Hadoop ``.crc``, move in every staged file still staged, write
    the marker, then drop the staged dir and the manifest. Every step skips
    what an interrupted call already did, so calling it again finishes the
    commit."""
    staged = os.path.join(path, COMMIT_DIR, name)
    with open(staged + ".manifest") as fh:
        manifest = json.load(fh)
    for rel in manifest["remove"]:
        head, tail = os.path.split(os.path.join(path, rel))
        for f in (tail, f".{tail}.crc"):
            if os.path.exists(os.path.join(head, f)):
                os.remove(os.path.join(head, f))
    for d, _subdirs, files in os.walk(staged):
        target = os.path.normpath(os.path.join(path, os.path.relpath(d, staged)))
        for f in files:
            os.makedirs(target, exist_ok=True)
            os.replace(os.path.join(d, f), os.path.join(target, f))
    if manifest["marker"] is not None:
        _mark(manifest["marker"])
    shutil.rmtree(staged, ignore_errors=True)
    os.remove(staged + ".manifest")


#: compaction's target output file size
COMPACT_TARGET_FILE_BYTES = 128 * 1024 * 1024
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
    partition's data. Returns the compacted partition dirs.

    Each leaf's rewrite is one ``commit`` that removes the leaf's
    originals. A run that died part-way through a swap is rolled forward
    before any leaf is listed, so the next run finishes that swap instead
    of rewriting what is left."""
    import glob as _glob
    import math

    roll_forward(path)
    compacted = []
    for leaf in sorted(_glob.glob(os.path.join(path, LEAF_GLOB))):
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        if len(files) <= 1:
            continue
        total = sum(os.path.getsize(os.path.join(leaf, f)) for f in files)
        n_out = max(1, math.ceil(total / COMPACT_TARGET_FILE_BYTES))
        if n_out >= len(files):
            continue
        rel = os.path.relpath(leaf, path)

        def stage(staged: str) -> list[str]:
            df = spark.read.schema(_LEAF_SCHEMA).parquet(leaf)
            (
                df.repartition(n_out)
                .sortWithinPartitions("ts", "sa_num")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(os.path.join(staged, rel))
            )
            return [os.path.join(rel, f) for f in files]

        commit(path, "compact-" + rel.replace(os.sep, "-"), stage)
        compacted.append(leaf)
    return compacted


def batch_marker(ledger_path: str | None, batch_id: int) -> str | None:
    """The ledger marker of ``batch_id``: ``batch_<id>.done`` in
    ``ledger_path``, or None without a ledger."""
    if ledger_path is None:
        return None
    return os.path.join(ledger_path, f"batch_{batch_id}.done")


def _mark(marker: str) -> None:
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as fh:
        fh.write("ok")


def jdbc_batch_writer(
    url: str,
    table: str,
    properties: dict[str, str],
    ledger_path: str | None = None,
):
    """foreachBatch sink for the ClickHouse-parity path (SURVEY §4.3.5).

    Returns f(batch_df, batch_id) that appends via JDBC, then writes the
    batch's ledger marker (reference parity: file-level retry [P]): a
    re-offered batch is skipped once its marker exists. A JDBC target
    cannot stage, so a crash between the append and the marker appends
    the batch again on restart; ``parquet_batch_writer`` has no such
    window. With a real ClickHouse target, pair with ReplacingMergeTree
    keyed on (batch_id, row) for exactly-once-effect.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = batch_marker(ledger_path, batch_id)
        if marker is not None and os.path.exists(marker):
            return
        # batch_id rides along (same contract as parquet_batch_writer):
        # the provenance column replays/audits need downstream
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).jdbc(url, table, properties=properties)
        if marker is not None:
            _mark(marker)

    return write


def parquet_batch_writer(path: str, ledger_path: str | None = None):
    """foreachBatch sink with a parquet target — used where no JDBC
    endpoint exists (tests, offline dev). Each batch is one ``commit``
    into ``path`` that writes the batch's ledger marker, so a re-offered
    batch writes nothing twice, even when a crash came between its files
    and its marker (no ledger path: every offer appends)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        commit(
            path,
            f"batch-{batch_id}",
            lambda staged: batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(staged),
            marker=batch_marker(ledger_path, batch_id),
        )

    return write
