"""Flow-record ingest (SURVEY §1.2, §3.1 E2 [P]).

The reference shells out to `nfdump -r <file> -o csv`, loads the CSV with
pandas, projects 48 → 13 columns, and tags each row with a per-watch-dir
`flowsrc` [P]. Here the same dataflow is declarative: an explicit-schema
CSV (or parquet) read, a Column-only projection, and derived numeric
address columns so CIDR predicates push down (SURVEY §4.3.2).

Native captures (nffile, v9/IPFIX) decode through ``decode_capture`` into
FLOW_COLUMNS tuples, and ``flows_arrow`` is the one conversion of those
tuples to the ``schemas.FLOWS`` contract: the service's decode stage
writes its table to parquet (``write_staged_flows``) and the bulk
directory readers stream its record batches through ``mapInArrow``.

Also hosts the deterministic synthetic flow generator used by streaming
and ingest tests (FIXTURES.md §B) — nfcapd-style 5-minute rotated files.
"""

from __future__ import annotations

import functools
import hashlib
import os
from datetime import datetime, timedelta, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.ip import ipv4_to_num
from ..schemas import FLOWS, NFDUMP_CSV_RAW
from .netflow_v9 import FLOW_COLUMNS, decode_flow_stream
from .nffile import decode_nffile, is_nffile


def project_flows(raw: DataFrame, flowsrc: str) -> DataFrame:
    """48-col raw nfdump CSV frame → 13-col typed analytical schema.

    Adds the constant `flowsrc` tag (one per watched dir [P]) plus derived
    `sa_num`/`da_num` LongType addresses and a `dt` date partition column —
    the two layout choices that buy data skipping at 100 TB (SURVEY §4.3).
    """
    flows = raw.select(
        F.to_timestamp("ts").alias("ts"),
        F.to_timestamp("te").alias("te"),
        F.col("td").cast("double").alias("td"),
        F.col("sa"),
        F.col("da"),
        F.col("sp").cast("int").alias("sp"),
        F.col("dp").cast("int").alias("dp"),
        F.nullif(F.col("pr"), F.lit("")).alias("pr"),
        F.col("flg"),
        F.col("ipkt").cast("bigint").alias("ipkt"),
        F.col("ibyt").cast("bigint").alias("ibyt"),
        F.col("ra"),
        F.lit(flowsrc).alias("flowsrc"),
    )
    return with_layout_columns(flows)


def with_layout_columns(df: DataFrame) -> DataFrame:
    """The derived columns that buy data skipping at 100 TB: numeric
    `sa_num`/`da_num` addresses for CIDR range pushdown (SURVEY §4.3.2;
    NULL for IPv6, the index is v4-only) and the `dt` partition key."""
    return df.withColumns(
        {
            "sa_num": ipv4_to_num(F.col("sa")),
            "da_num": ipv4_to_num(F.col("da")),
            "dt": F.to_date("ts"),
        }
    )


def decode_capture(
    content: bytes, fmt: str, exporter: str | None = None
) -> list[tuple]:
    """One capture file → FLOW_COLUMNS tuples (ts/te in epoch ms), by the
    source's format: ``"nffile"`` (nfdump's on-disk files, layout v1 or
    v2) or ``"v9"`` (raw v9/IPFIX export packets).

    The one place that picks a decoder by format: the service's decode
    stage, the bulk directory readers below and the streaming flow
    source all decode through it. Structural misconfiguration raises the
    decoder's actionable ValueError instead of yielding zero rows
    silently: ``decode_nffile`` names format=v9 for export packets, and
    the v9 arm refuses nffile magic here, since an export-packet walk
    over an on-disk file would decode nothing."""
    if fmt == "nffile":
        return decode_nffile(content, exporter=exporter)
    if is_nffile(content):
        raise ValueError(
            "nfdump nffile magic detected: this directory holds nfcapd "
            "on-disk files, not raw v9/IPFIX export packets — use "
            "format=nffile (native) or decode_cmd"
        )
    return decode_flow_stream(content, exporter=exporter)


@functools.cache
def _flows_arrow_schema():
    """``schemas.FLOWS`` as pyarrow types, derived once per process: µs
    timestamps with tz UTC, as Spark writes them, so even a
    schema-inferring read of a file written with it sees exactly FLOWS."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(FLOWS)


def flows_arrow(flows: list[tuple], flowsrc: str):
    """Decoded FLOW_COLUMNS tuples → a pyarrow table with exactly the
    FLOWS columns: epoch-ms ts/te become µs timestamps and every row
    carries ``flowsrc``. The one conversion from decoded captures to the
    flows contract, for the service's staged files and the bulk readers
    alike. Zero flows give a 0-row table."""
    import pyarrow as pa

    schema = _flows_arrow_schema()
    cols = list(zip(*flows)) or [()] * len(FLOW_COLUMNS)
    arrays = [
        pa.array([ms * 1000 for ms in values]
                 if pa.types.is_timestamp(f.type) else values, f.type)
        for f, values in zip(schema, cols)
    ]
    arrays.append(pa.array([flowsrc] * len(flows), pa.string()))
    return pa.Table.from_arrays(arrays, schema=schema)


def write_staged_flows(flows: list[tuple], flowsrc: str, path: str) -> None:
    """Write decoded FLOW_COLUMNS tuples as ONE parquet file of
    ``flows_arrow``. Zero flows write a 0-row file, so an empty capture
    still stages (and ledgers) like any other."""
    import pyarrow.parquet as pq

    pq.write_table(flows_arrow(flows, flowsrc), path)


def _read_capture_directory(
    spark: SparkSession, path: str, fmt: str, flowsrc: str, exporter: str | None
) -> DataFrame:
    """Every capture under ``path`` decoded whole by ``decode_capture`` on
    one executor task (``binaryFile`` + ``mapInArrow``), as the record
    batches of ``flows_arrow``, plus the layout columns."""

    def decode(batches):
        for batch in batches:
            for content in batch.column("content").to_pylist():
                flows = decode_capture(content, fmt, exporter=exporter)
                yield from flows_arrow(flows, flowsrc).to_batches()

    raw = spark.read.format("binaryFile").load(path)
    return with_layout_columns(raw.select("content").mapInArrow(decode, FLOWS))


def read_v9_directory(
    spark: SparkSession, path: str, flowsrc: str, exporter: str | None = None
) -> DataFrame:
    """Native template-decode of a directory of v9/IPFIX capture files
    into the SAME 13-col + layout shape as ``project_flows`` — the
    nfdump-subprocess-free ingest seam (SURVEY §1.2; VERDICT r3 next-#1).

    One capture file decodes whole on one executor (template state never
    crosses rotation files — exporters re-announce per rotation); the
    decoder's epoch-ms integers become TimestampType in ``flows_arrow``.
    The result feeds ``sinks.write_flows_partitioned`` unchanged."""
    return _read_capture_directory(spark, path, "v9", flowsrc, exporter)


def read_nffile_directory(
    spark: SparkSession, path: str, flowsrc: str, exporter: str | None = None
) -> DataFrame:
    """Native decode of a directory of nfdump ON-DISK files (nffile
    layout v1 OR v2 — nfdump 1.6 and 1.7+ archives mix freely; what
    ``nfcapd`` actually writes) into the same 13-col + layout shape as
    ``project_flows`` (VERDICT r4 missing-#2, v1 closed r11; format
    spec in ``sources/nffile.py``).

    Identical scale shape to ``read_v9_directory``: one nfcapd file
    decodes whole on one executor (the file is the natural unit — blocks
    inside it share the file header's codec), and Spark owns scheduling
    and retries."""
    return _read_capture_directory(spark, path, "nffile", flowsrc, exporter)


def read_flow_csv(spark: SparkSession, path: str, flowsrc: str) -> DataFrame:
    """Typed read of `nfdump -o csv` output (explicit schema, never
    inferred — SURVEY §1.2)."""
    raw = (
        spark.read.schema(NFDUMP_CSV_RAW)
        .option("header", True)
        .csv(path)
    )
    return project_flows(raw, flowsrc)


# --- deterministic synthetic flow data (FIXTURES.md §B) ---------------------


def _h(*parts: object) -> int:
    """Stable tiny hash for reproducible pseudo-random fields."""
    s = ":".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.sha1(s).digest()[:6], "big")


def flow_rows(
    file_idx: int, n_rows: int, start: datetime
) -> list[dict]:
    rows = []
    for i in range(n_rows):
        h = _h(file_idx, i)
        ts = start + timedelta(seconds=(h % 300))
        td = (h >> 8) % 120 + ((h >> 4) % 100) / 100.0
        rows.append(
            {
                "ts": ts,
                "te": ts + timedelta(seconds=td),
                "td": td,
                "sa": f"10.{h % 4}.{(h >> 2) % 8}.{(h >> 5) % 32}",
                "da": f"192.168.{(h >> 7) % 4}.{(h >> 9) % 16}",
                "sp": 1024 + h % 50000,
                "dp": [80, 443, 53, 22, 8080][h % 5],
                "pr": [None, "TCP", "UDP", "ICMP", "TCP"][h % 5],
                "flg": "...A.S." if h % 3 else "....S..",
                "ipkt": 1 + (h % 1000) ** 2 % 9973,
                "ibyt": 40 + (h % 100000),
                "ra": f"172.16.0.{1 + h % 2}",
                "flowsrc": None,
            }
        )
    return rows


def write_flow_files(
    spark: SparkSession,
    out_dir: str,
    n_files: int = 3,
    rows_per_file: int = 200,
    start: datetime | None = None,
    fmt: str = "parquet",
    tag: str = "",
    arrival: int = 0,
) -> list[str]:
    """Materialize nfcapd-style rotated files (`nfcapd.YYYYMMDDhhmm.*`),
    ONE real file per simulated 5-min window (exactly like one nfcapd
    capture — the streaming file source lists plain files, not part-file
    directories), in mod-time order so rotations replay in sequence.

    Each file's mtime is SET explicitly to its rotation time plus
    `arrival` hours (os.utime) — Spark's FileStreamSource lists files in
    mod-time order, so late/replayed rotations are modeled by `arrival=1`
    instead of wall-clock sleeps (deterministic and saves ~1s per call)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    start = start or datetime(2024, 3, 1, tzinfo=timezone.utc)
    os.makedirs(out_dir, exist_ok=True)
    schema = _flows_arrow_schema()
    paths = []
    for fidx in range(n_files):
        fstart = start + timedelta(minutes=5 * fidx)
        # `tag` distinguishes replayed/late rotations (nfcapd.…​.retry-style)
        # from the original: without it a replay would silently OVERWRITE
        # the on-time file instead of arriving as a new one
        name = f"nfcapd.{fstart:%Y%m%d%H%M}" + (f".{tag}" if tag else "")
        rows = flow_rows(fidx, rows_per_file, fstart.replace(tzinfo=None))
        cols = {k: [r[k] for r in rows] for k in rows[0]}
        tbl = pa.Table.from_pydict(cols, schema=schema)
        if fmt == "parquet":
            path = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(tbl, path)
        else:
            # full 48-field nfdump CSV record (the real `nfdump -o csv`
            # shape [P]); fields we don't synthesize are zeroed
            import csv as _csv

            from ..schemas import NFDUMP_CSV_FIELDS

            path = os.path.join(out_dir, f"{name}.csv")
            with open(path, "w", newline="") as fh:
                w = _csv.writer(fh)
                w.writerow(NFDUMP_CSV_FIELDS)
                for r in rows:
                    full = {k: "0" for k in NFDUMP_CSV_FIELDS}
                    for k in FLOW_COLUMNS:
                        v = r[k]
                        full[k] = "" if v is None else str(v)
                    w.writerow([full[k] for k in NFDUMP_CSV_FIELDS])
        mt = fstart.timestamp() + arrival * 3600
        os.utime(path, (mt, mt))
        paths.append(path)
    return paths
