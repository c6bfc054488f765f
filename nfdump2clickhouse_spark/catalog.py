"""Fixture-table loaders.

``tables(spark, sf_dir)`` returns a dict of lazily-planned DataFrames, one
per driver fixture table. Reads are plain ``spark.read.parquet`` so
Catalyst's column pruning / predicate pushdown reach the scan; schemas are
pinned (schemas.py) to keep types stable across scale factors.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from .schemas import FIXTURE_SCHEMAS

TABLE_NAMES = tuple(FIXTURE_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_TS_NANOS_CACHE: dict[str, bool] = {}


def _parquet_files(path: str) -> list[str]:
    """The files of parquet path ``path``: itself when it is a file, else
    its sorted ``part-*.parquet`` files (directory-form parquet, as Spark
    writes it), falling back to any ``*.parquet`` in it."""
    import glob

    if not os.path.isdir(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "part-*.parquet"))) or sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )


def _events_ts_is_nanos(path: str) -> bool:
    """True when the events fixture stores ``ts`` as TIMESTAMP(NANOS)."""
    cached = _TS_NANOS_CACHE.get(path)
    if cached is None:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        probe = (_parquet_files(path) or [path])[0]
        ts_type = pq.read_schema(probe).field("ts").type
        cached = pat.is_timestamp(ts_type) and ts_type.unit == "ns"
        _TS_NANOS_CACHE[path] = cached
    return cached


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pinned schema (no inference) — required for the streaming source and
    # keeps TimestampType (not NTZ) uniform across Spark versions/configs.
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_is_nanos(path):
        # events.ts as TIMESTAMP(NANOS) is illegal for Spark's reader, so read
        # the physical int64 (nanosAsLong, session.py) and truncate ns→µs —
        # same floor-division DuckDB applies when comparing at µs precision.
        # (Fixture generations vary: ns and µs have both been observed, so
        # sniff the footer once per path instead of hard-coding either.)
        raw = StructType(
            [
                StructField("ts", LongType())
                if f.name == "ts"
                else f
                for f in FIXTURE_SCHEMAS[name].fields
            ]
        )
        return (
            spark.read.schema(raw)
            .parquet(path)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(path)


def parquet_column_stats(
    sf_dir: str, name: str, column: str
) -> tuple[object, object, int] | None:
    """(min, max, num_rows) of ``column`` straight from the parquet
    footers — driver-side metadata, no Spark job (the same O(files)
    class as the footer row count ``df.count()`` compiles to). Used by
    the binned two-phase prefix scans to pin range-id literals without
    a boundary-sampling job. Returns None when any row group lacks
    min/max statistics (caller falls back to an aggregation job); rows
    that are all-NULL in a row group contribute no stats and are
    skipped, matching the NULLS-handled-separately contract of the
    callers.

    Contract (ADVICE r11): only width-exact physical types are served —
    INT32/INT64/FLOAT/DOUBLE (covers every numeric and µs/ns-timestamp
    fixture column). BYTE_ARRAY stats may be writer-truncated and INT96
    stats are unreliable on legacy writers, so those return None and the
    caller takes its in-plan bounds arm. Callers must still treat the
    bounds as BINNING bounds (monotone bucketing only), not as exact
    extrema — FLOAT/DOUBLE footers are NaN-blind."""
    import pyarrow.parquet as pq

    _EXACT_PHYSICAL = {"INT32", "INT64", "FLOAT", "DOUBLE"}

    lo = hi = None
    total = 0
    for p in _parquet_files(os.path.join(sf_dir, f"{name}.parquet")):
        md = pq.ParquetFile(p).metadata
        total += md.num_rows
        try:
            idx = md.schema.names.index(column)
        except ValueError:
            return None
        if md.num_row_groups and (
            md.row_group(0).column(idx).physical_type not in _EXACT_PHYSICAL
        ):
            return None
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            st = col.statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None or st.min < lo else lo
                hi = st.max if hi is None or st.max > hi else hi
            elif st is not None and st.num_values == 0:
                continue  # row group holds no non-null values for this column
            else:
                return None
    return (lo, hi, total)


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
