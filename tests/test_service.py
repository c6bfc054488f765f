"""Integration tests for the config-driven ingest service (the reference
daemon's operational surface: conf parse → multi-source ingest →
idempotent restart → retention)."""

from __future__ import annotations

import os
from datetime import date, datetime, timezone

import pyspark.sql.functions as F
import pytest

from nfdump2clickhouse_spark.service import FlowService, parse_config
from nfdump2clickhouse_spark.sources.flows import write_flow_files
from tests.conf_utils import write_conf


def test_service_end_to_end(spark, tmp_path):
    base = str(tmp_path)
    dirs = {
        "router-a": os.path.join(base, "watch_a"),
        "router-b": os.path.join(base, "watch_b"),
    }
    start = datetime(2024, 3, 1, tzinfo=timezone.utc)
    write_flow_files(spark, dirs["router-a"], n_files=2, rows_per_file=100, start=start)
    write_flow_files(spark, dirs["router-b"], n_files=1, rows_per_file=50, start=start)

    conf = write_conf(base, {name: {"watchdir": d} for name, d in dirs.items()})
    cfg = parse_config(conf)
    assert [s.flowsrc for s in cfg.sources] == ["router-a", "router-b"]

    svc = FlowService(spark, cfg)
    svc.run_once()

    tbl = svc.table()
    counts = {
        r.flowsrc: r.n
        for r in tbl.groupBy("flowsrc").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"router-a": 200, "router-b": 50}
    # layout columns present (partition pruning + CIDR pushdown surface)
    for c in ("dt", "sa_num", "da_num"):
        assert c in tbl.columns

    # restart: nothing new → no duplicates (seen-files log + ledger)
    svc.run_once()
    assert svc.table().count() == 250

    # incremental pickup: rewriting router-b's already-seen rotation file
    # plus one genuinely new rotation → only the new file is ingested
    write_flow_files(
        spark, dirs["router-b"], n_files=2, rows_per_file=50, start=start
    )
    svc.run_once()
    assert svc.table().count() == 250 + 50


def test_service_decode_cmd_end_to_end(spark, tmp_path):
    """The reference's per-file decode hot path (`nfdump -r {file} -o
    csv` [P SURVEY §3.1 E2]) as a conf-driven seam: raw rotations in
    watchdir are run through decode_cmd into the staging dir, the csv
    stream projects 48→13, rows land in the partitioned table. nfdump
    itself doesn't exist in this container, so the stand-in decoder is
    `cp` over files that are already csv — the seam (per-file subprocess,
    success ledger, retry semantics) is what's under test."""
    base = str(tmp_path)
    watch = os.path.join(base, "raw")
    start = datetime(2024, 3, 1, tzinfo=timezone.utc)
    # "raw nfcapd" stand-ins: already-csv files WITHOUT a .csv suffix, so
    # only the decode stage can make them visible to the csv source
    paths = write_flow_files(
        spark, watch, n_files=2, rows_per_file=80, start=start, fmt="csv"
    )
    for p in paths:
        os.rename(p, p[: -len(".csv")])

    conf_path = write_conf(
        base, {"router-raw": {"watchdir": watch, "decode_cmd": "cp {file} {out}"}}
    )
    cfg = parse_config(conf_path)
    assert cfg.sources[0].decode_cmd == "cp {file} {out}"

    svc = FlowService(spark, cfg)
    svc.run_once()
    tbl = svc.table()
    assert tbl.count() == 160
    assert tbl.select("flowsrc").distinct().collect()[0][0] == "router-raw"
    # the 48→13 projection + layout columns came through the decode path
    for c in ("sa", "da", "ipkt", "ibyt", "dt", "sa_num"):
        assert c in tbl.columns

    # second run: decode ledger skips all files, stream adds nothing
    assert svc.decode_new_files(cfg.sources[0]) == []
    svc.run_once()
    assert svc.table().count() == 160


def test_systemd_units_and_cli_run_once(spark, tmp_path):
    """Packaging parity with the reference's systemd deployment: the unit
    generator renders a oneshot .service + .timer pair whose ExecStart is
    the real CLI, and the CLI's run-once drains sources end-to-end."""
    from nfdump2clickhouse_spark.__main__ import main
    from nfdump2clickhouse_spark.service import generate_systemd_units

    base = str(tmp_path)
    watch = os.path.join(base, "watch")
    write_flow_files(
        spark, watch, n_files=1, rows_per_file=40,
        start=datetime(2024, 3, 1, tzinfo=timezone.utc),
    )
    # fixture dates are fixed (2024-03-01); a real keep_days would
    # expire them relative to today's date
    conf = write_conf(base, {"router-x": {"watchdir": watch}}, keep_days=100000)

    units = generate_systemd_units(conf, interval="5min")
    assert set(units) == {
        "nfdump2clickhouse-spark.service",
        "nfdump2clickhouse-spark.timer",
    }
    svc_unit = units["nfdump2clickhouse-spark.service"]
    assert "Type=oneshot" in svc_unit
    assert f"run-once --conf {conf}" in svc_unit
    assert "OnUnitActiveSec=5min" in units["nfdump2clickhouse-spark.timer"]

    # the ExecStart command is real: run it in-process
    assert main(["run-once", "--conf", conf]) == 0
    flows = spark.read.parquet(os.path.join(base, "flows"))
    assert flows.count() == 40


def test_service_retention_drops_old_partitions(spark, tmp_path):
    base = str(tmp_path)
    watch = os.path.join(base, "watch")
    write_flow_files(
        spark,
        watch,
        n_files=1,
        rows_per_file=60,
        start=datetime(2024, 3, 1, tzinfo=timezone.utc),
    )
    conf = write_conf(base, {"src": {"watchdir": watch}})
    svc = FlowService(spark, parse_config(conf))
    svc.run_once()
    assert svc.table().count() == 60

    # within TTL: nothing dropped; past TTL: partition gone, metadata-only
    assert svc.run_retention(today=date(2024, 3, 15)) == []
    dropped = svc.run_retention(today=date(2024, 8, 1))
    assert dropped == ["dt=2024-03-01"]
    assert not os.path.isdir(os.path.join(base, "flows", "dt=2024-03-01"))


def test_clickhouse_ddl_generated_from_schema():
    from nfdump2clickhouse_spark.sources.clickhouse import flows_ddl, jdbc_url

    ddl = flows_ddl()
    # every flows column present, reference-conventional types and layout
    for frag in (
        "CREATE TABLE IF NOT EXISTS nfsen.flows",
        "`ts` DateTime",
        "`te` DateTime",
        "`td` Float64",
        "`sa` String",
        "`sp` UInt16",
        "`ipkt` UInt64",
        "`pr` LowCardinality(Nullable(String))",
        "`flowsrc` LowCardinality(String)",
        "ENGINE = MergeTree()",
        "PARTITION BY toDate(ts)",
        "ORDER BY (ts, sa, da)",
        "TTL te + INTERVAL 90 DAY",
    ):
        assert frag in ddl, frag
    assert jdbc_url() == "jdbc:clickhouse://localhost:8123/nfsen"


def test_ingest_skips_corrupt_files_when_configured(spark, tmp_path):
    """Reference parity: a bad rotation file must not wedge the pipeline
    (the reference logs and moves on [P]). With ignoreCorruptFiles the
    batch read skips the garbage file and ingests the valid ones."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.schemas import FLOWS
    from nfdump2clickhouse_spark.sources.flows import write_flow_files

    watch = str(tmp_path / "watch")
    write_flow_files(spark, watch, n_files=2, rows_per_file=100)
    with open(os.path.join(watch, "nfcapd.209901010000.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file")

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        n = (
            spark.read.schema(FLOWS)
            .parquet(os.path.join(watch, "*"))
            .agg(F.count(F.lit(1)))
            .collect()[0][0]
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert n == 200


def test_service_logging_and_status(spark, tmp_path):
    """Operational surface parity: the reference logs each conversion to
    log/ [S log/.gitignore:1] and operators watch it. The service must
    write per-batch commit lines to the configured log_dir, and status()
    must expose per-stream progress after a drain."""
    base = str(tmp_path)
    watch = os.path.join(base, "watch")
    write_flow_files(spark, watch, n_files=2, rows_per_file=60)
    conf_path = write_conf(
        base, {"edge": {"watchdir": watch}}, log_dir=os.path.join(base, "log")
    )
    svc = FlowService(spark, parse_config(conf_path))
    svc.run_once()

    log_file = os.path.join(base, "log", "flows.log")
    assert os.path.exists(log_file)
    lines = open(log_file).read().splitlines()
    assert any("source=edge" in ln and "committed" in ln for ln in lines)

    st = svc.status()
    assert len(st) == 1 and st[0]["query"] == "flows-edge"
    assert not st[0]["active"]  # availableNow drained and stopped
    assert st[0]["input_rows"] is not None


def test_service_query_filter_pushes_down(spark, tmp_path):
    """FlowService.query_filter must run an nfdump filter against the
    at-rest table AND push the compiled net-range to the parquet scan."""
    from nfdump2clickhouse_spark.plans import pushed_filters

    base = str(tmp_path)
    watch = os.path.join(base, "watch")
    write_flow_files(spark, watch, n_files=1, rows_per_file=200)
    conf_path = write_conf(base, {"edge": {"watchdir": watch}})
    svc = FlowService(spark, parse_config(conf_path))
    svc.run_once()

    q = svc.query_filter("src net 10.0.0.0/8 and dst port 443")
    assert q.count() >= 0  # executes
    pf = " ".join(pushed_filters(q.select("sa", "ibyt")))
    assert "sa_num" in pf, pf


def test_service_backfill_replaces_only_target_partitions(spark, tmp_path):
    """backfill() must replace exactly the day partitions present in the
    corrected frame: target day rows swapped, other days untouched."""
    from datetime import datetime, timezone

    import pyspark.sql.functions as F

    base = str(tmp_path)
    watch = os.path.join(base, "watch")
    start = datetime(2024, 3, 1, tzinfo=timezone.utc)
    write_flow_files(spark, watch, n_files=2, rows_per_file=100, start=start)
    conf_path = write_conf(base, {"edge": {"watchdir": watch}})
    svc = FlowService(spark, parse_config(conf_path))
    svc.run_once()
    tbl = svc.table()
    days = sorted(r.dt for r in tbl.select("dt").distinct().collect())
    target = days[0]
    before_other = tbl.filter(F.col("dt") != target).count()

    # corrected replay of the target day: half the rows, ibyt doubled
    corrected = (
        svc.table()
        .filter(F.col("dt") == target)
        .limit(50)
        .withColumn("ibyt", F.col("ibyt") * 2)
    )
    svc.backfill(corrected)

    after = svc.table()
    assert after.filter(F.col("dt") == target).count() == 50
    assert after.filter(F.col("dt") != target).count() == before_other


def test_v9_decode_feeds_partitioned_sink(spark, tmp_path):
    """VERDICT r3 next-#1 done-condition: the native v9/IPFIX template
    decode emits the full §1.2 schema and feeds the partitioned sorted
    sink UNCHANGED — no decode_cmd subprocess seam. Round-trips the
    generator ground truth through binaryFile→mapInPandas→parquet."""
    from nfdump2clickhouse_spark.schemas import FLOWS
    from nfdump2clickhouse_spark.sources.flows import read_v9_directory
    from nfdump2clickhouse_spark.sources.netflow_v9 import write_netflow_v9
    from nfdump2clickhouse_spark.sources.sinks import write_flows_partitioned

    cap_dir = str(tmp_path / "captures")
    expected = write_netflow_v9(cap_dir, n_files=3, records_per_file=16,
                                exporter="192.0.2.7")
    flows = read_v9_directory(spark, cap_dir, flowsrc="edge1",
                              exporter="192.0.2.7")
    # contract: every FLOWS column present and typed per schemas.FLOWS
    for field in FLOWS.fields:
        assert flows.schema[field.name].dataType == field.dataType, field
    table = str(tmp_path / "table")
    write_flows_partitioned(flows, table)
    back = spark.read.parquet(table)
    rows = back.orderBy("ts", "sa").collect()
    assert len(rows) == len(expected) == 48
    exp = sorted(expected)
    assert [int(r.ts.timestamp() * 1000) for r in rows] == [e[0] for e in exp]
    assert [r.td for r in rows] == [e[2] for e in exp]
    assert {r.flowsrc for r in rows} == {"edge1"}
    assert {r.ra for r in rows} == {"192.0.2.7"}
    # v6 rows carry NULL sa_num (v4-only pushdown index), v4 rows don't
    assert all((r.sa_num is None) == (":" in r.sa) for r in rows)
    # layout: hive partitions by dt=/flowsrc= exist on disk
    assert any(p.startswith("dt=") for p in os.listdir(table))


def test_service_native_v9_source_end_to_end(spark, tmp_path):
    """fmt=v9: the service's native decode stage replaces the
    decode_cmd subprocess — new nfcapd v9/IPFIX files decode to staged
    FLOWS parquet (success-only ledger, idempotent), stream through the
    ordinary staged-parquet path, and land in the partitioned table.
    A second drain ingests nothing; a newly-arrived rotation ingests
    exactly its rows."""
    from nfdump2clickhouse_spark.sources.netflow_v9 import write_netflow_v9

    watch = tmp_path / "captures"
    expected = write_netflow_v9(str(watch), n_files=2, records_per_file=12,
                                exporter="203.0.113.5")
    conf = write_conf(str(tmp_path), {"edge-v9": {
        "watchdir": watch, "flowsrc": "edge9", "format": "v9", "exporter": "203.0.113.5",
    }}, table_path=f"{tmp_path}/table")
    cfg = parse_config(conf)
    assert cfg.sources[0].fmt == "v9" and cfg.sources[0].exporter == "203.0.113.5"
    svc = FlowService(spark, cfg)
    svc.run_once()
    tbl = spark.read.parquet(f"{tmp_path}/table")
    assert tbl.count() == len(expected) == 24
    row = tbl.orderBy("ts", "sa").first()
    assert row.flowsrc == "edge9" and row.ra == "203.0.113.5"
    # idempotent re-drain
    svc.run_once()
    assert spark.read.parquet(f"{tmp_path}/table").count() == 24
    # late rotation arrives -> only its rows are added
    write_netflow_v9(str(tmp_path / "late"), n_files=1, records_per_file=6,
                     exporter="203.0.113.5")
    os.rename(str(tmp_path / "late" / "nfcapd.v9.0000"),
              str(watch / "nfcapd.v9.9999"))
    svc.run_once()
    assert spark.read.parquet(f"{tmp_path}/table").count() == 30


def test_service_sql_surface(spark, tmp_path):
    """svc.sql(): ANSI SQL over the at-rest table as `flows` — the
    migration path for the reference's ClickHouse SQL users."""
    from nfdump2clickhouse_spark.service import FlowService, ServiceConfig, SourceConfig
    from nfdump2clickhouse_spark.sources.flows import write_flow_files

    watch = str(tmp_path / "w")
    write_flow_files(spark, watch, n_files=2, rows_per_file=150)
    cfg = ServiceConfig(
        table_path=str(tmp_path / "table"),
        checkpoint_root=str(tmp_path / "ckpt"),
        sources=(SourceConfig(name="s1", watch_dir=watch, flowsrc="s1"),),
    )
    svc = FlowService(spark, cfg)
    svc.run_once()
    out = svc.sql(
        "SELECT flowsrc, COUNT(*) AS n, SUM(ibyt) AS bytes"
        " FROM flows GROUP BY flowsrc"
    ).collect()
    assert len(out) == 1 and out[0].n == 300 and out[0].flowsrc == "s1"
    # dt predicate prunes partitions (plan shows PartitionFilters)
    q = svc.sql("SELECT sa, ibyt FROM flows WHERE dt = DATE'2024-03-01'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan


# --- native decode stage: in-process decode, pinned table schema ------------


def _native_service(spark, base, watch, fmt, exporter=None, decode_cmd=None):
    from nfdump2clickhouse_spark.service import ServiceConfig, SourceConfig

    return FlowService(spark, ServiceConfig(
        table_path=os.path.join(base, "table"),
        checkpoint_root=os.path.join(base, "ckpt"),
        sources=(SourceConfig(name="edge", watch_dir=watch, flowsrc="edge",
                              fmt=fmt, exporter=exporter, decode_cmd=decode_cmd),),
        log_dir=os.path.join(base, "log"),
    ))


def _jobs_in(spark, fn):
    """(fn(), Spark jobs fn ran) — counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_captures(fmt, codec, watch, exporter, n_files=2, records=16):
    from nfdump2clickhouse_spark.sources import nffile as nf
    from nfdump2clickhouse_spark.sources.netflow_v9 import write_netflow_v9

    if fmt == "v9":
        return write_netflow_v9(watch, n_files=n_files,
                                records_per_file=records, exporter=exporter)
    codecs = {"none": nf.COMPRESSION_NONE, "bz2": nf.COMPRESSION_BZ2,
              "lzo": nf.COMPRESSION_LZO}
    return nf.write_nffile(watch, n_files=n_files, records_per_file=records,
                           compression=codecs[codec], exporter=exporter)


@pytest.mark.parametrize("exporter", [None, "203.0.113.9"],
                         ids=["router-element", "exporter-override"])
@pytest.mark.parametrize("fmt,codec", [("nffile", "none"), ("nffile", "bz2"),
                                       ("nffile", "lzo"), ("v9", None)])
def test_decode_stage_matches_executor_path(spark, tmp_path, fmt, codec, exporter):
    """The decode stage runs no Spark job per capture, and each staged
    file holds exactly the FLOWS columns and the rows the executor-side
    bulk reader decodes from the same capture (IPv4 and IPv6 records)."""
    from nfdump2clickhouse_spark.schemas import FLOWS
    from nfdump2clickhouse_spark.sources.flows import (
        read_nffile_directory,
        read_v9_directory,
    )

    watch = str(tmp_path / "watch")
    expected = _write_captures(fmt, codec, watch, exporter)
    assert any(":" in t[3] for t in expected) and any(":" not in t[3] for t in expected)
    svc = _native_service(spark, str(tmp_path), watch, fmt, exporter)
    src = svc.config.sources[0]
    decode = svc.decode_v9_files if fmt == "v9" else svc.decode_nffile_files
    done, jobs = _jobs_in(spark, lambda: decode(src))
    names = sorted(os.listdir(watch))
    assert done == names and jobs == 0
    read_dir = read_v9_directory if fmt == "v9" else read_nffile_directory
    staging = svc._staging_dir(src)
    for name in names:
        staged = os.path.join(staging, f"{name}.000.parquet")
        assert spark.read.parquet(staged).schema == FLOWS
        got = spark.read.schema(FLOWS).parquet(staged)
        want = read_dir(spark, os.path.join(watch, name), flowsrc="edge",
                        exporter=exporter).select(*FLOWS.fieldNames())
        assert _rows(got) == _rows(want)
    assert spark.read.schema(FLOWS).parquet(staging).count() == len(expected)


def test_decode_stage_stages_an_empty_capture(spark, tmp_path):
    """A capture that decodes to zero flows is ledgered and stages a 0-row
    FLOWS file, like any other capture."""
    import struct

    from nfdump2clickhouse_spark.schemas import FLOWS
    from nfdump2clickhouse_spark.sources import nffile as nf

    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "nfcapd.empty").write_bytes(struct.pack(
        nf._FILE_HEADER_V2, nf.MAGIC, nf.LAYOUT_V2, 0x010700, 0, 0, 0, 0, 0,
        0, 1 << 20, 0))
    svc = _native_service(spark, str(tmp_path), str(watch), "nffile")
    src = svc.config.sources[0]
    assert svc.decode_nffile_files(src) == ["nfcapd.empty"]
    staging = svc._staging_dir(src)
    assert os.path.exists(os.path.join(staging, "_decoded", "nfcapd.empty.done"))
    staged = spark.read.parquet(os.path.join(staging, "nfcapd.empty.000.parquet"))
    assert staged.schema == FLOWS and staged.count() == 0


def test_table_schema_is_pinned(spark, tmp_path):
    """svc.table() reads with the pinned FLOWS_TABLE schema, which equals
    what inference gives on a service-written table; building table(),
    sql() and query_filter() runs no Spark job."""
    from nfdump2clickhouse_spark.schemas import FLOWS_TABLE

    watch = str(tmp_path / "watch")
    _write_captures("nffile", "bz2", watch, None, n_files=1, records=24)
    svc = _native_service(spark, str(tmp_path), watch, "nffile")
    svc.run_once()
    table, jobs = _jobs_in(spark, svc.table)
    assert jobs == 0
    assert table.schema == FLOWS_TABLE == spark.read.parquet(svc.config.table_path).schema
    _, jobs = _jobs_in(spark, lambda: svc.sql("SELECT sa, SUM(ibyt) FROM flows GROUP BY sa"))
    assert jobs == 0
    _, jobs = _jobs_in(spark, lambda: svc.query_filter("src net 10.0.0.0/8 and dst port 443"))
    assert jobs == 0
    assert table.count() == 24


def _clean_table(spark, base, watch, fmt):
    svc = _native_service(spark, base, watch, fmt)
    svc.run_once()
    return _rows(svc.table())


def _staged_files(svc):
    """The staged files the stream can see: hidden names (`_decoded`,
    `_commits`) are skipped."""
    return sorted(n for n in os.listdir(svc._staging_dir(svc.config.sources[0]))
                  if not n.startswith("_"))


def _log_text(svc):
    for h in svc._log.handlers:
        h.flush()
    with open(os.path.join(svc.config.log_dir, "flows.log")) as fh:
        return fh.read()


@pytest.mark.parametrize("fault", ["v9-under-nffile", "encrypted-header"])
def test_structural_decode_error_logs_and_retries(spark, tmp_path, fault):
    """A structural decode error logs the decoder's own message, leaves no
    marker and no staged file, and the capture decodes on a later run once
    the source (or the capture) is fixed; the table then equals a clean
    run's."""
    import shutil
    import struct

    from nfdump2clickhouse_spark.sources import nffile as nf

    watch = str(tmp_path / "watch")
    good_fmt = "v9" if fault == "v9-under-nffile" else "nffile"
    _write_captures(good_fmt, "bz2", watch, None, n_files=1, records=16)
    (name,) = os.listdir(watch)
    cap = os.path.join(watch, name)
    original = open(cap, "rb").read()
    clean_watch = str(tmp_path / "clean_watch")
    shutil.copytree(watch, clean_watch)
    clean = _clean_table(spark, str(tmp_path / "clean"), clean_watch, good_fmt)
    if fault == "v9-under-nffile":
        message = ("this is a raw NetFlow export-packet capture, not an nfdump "
                   "nffile — use format=v9")
    else:
        message = "nffile: encrypted files are not supported"
        head = list(struct.unpack_from(nf._FILE_HEADER_V2, original, 0))
        head[5] = 1  # the encryption field
        with open(cap, "wb") as fh:
            fh.write(struct.pack(nf._FILE_HEADER_V2, *head)
                     + original[struct.calcsize(nf._FILE_HEADER_V2):])

    base = str(tmp_path / "svc")
    svc = _native_service(spark, base, watch, "nffile")
    for attempt in (1, 2):  # retried on every run until fixed
        svc.run_once()
        assert _log_text(svc).count(message) == attempt
        assert _staged_files(svc) == []
        assert os.listdir(os.path.join(svc._staging_dir(svc.config.sources[0]),
                                       "_decoded")) == []
        assert not os.path.exists(svc.config.table_path)

    if fault == "v9-under-nffile":  # the operator fixes the source's format
        svc = _native_service(spark, base, watch, "v9")
    else:  # an intact copy of the capture replaces the damaged one
        with open(cap, "wb") as fh:
            fh.write(original)
    svc.run_once()
    assert _staged_files(svc) == [f"{name}.000.parquet"]
    assert _rows(svc.table()) == clean


@pytest.mark.parametrize("leftover", ["file", "dir"])
def test_leftover_tmp_is_hidden_and_overwritten(spark, tmp_path, leftover):
    """A staged file left in `_commits/<name>/` by an interrupted decode (a
    file, or a write directory), without a manifest, is ignored by the
    stream and staged afresh when that capture decodes."""
    import shutil

    from nfdump2clickhouse_spark.sources.flows import write_staged_flows
    from nfdump2clickhouse_spark.sources.sinks import COMMIT_DIR

    watch = str(tmp_path / "watch")
    _write_captures("nffile", "none", watch, None, n_files=2, records=16)
    clean = _clean_table(spark, str(tmp_path / "clean"), watch, "nffile")
    late = sorted(os.listdir(watch))[-1]
    parked = str(tmp_path / "parked")
    os.makedirs(parked)
    shutil.move(os.path.join(watch, late), parked)

    svc = _native_service(spark, str(tmp_path / "svc"), watch, "nffile")
    staging = svc._staging_dir(svc.config.sources[0])
    staged = os.path.join(staging, COMMIT_DIR, late)
    tmp = os.path.join(staged, f"{late}.000.parquet")
    os.makedirs(staged)
    junk = [(0, 1, 1.0, "10.9.9.9", "10.9.9.8", 1, 2, "TCP", "......", 1, 1, "x")] * 5
    if leftover == "dir":
        os.makedirs(tmp)
        write_staged_flows(junk, "edge", os.path.join(tmp, "part-00000.parquet"))
    else:
        write_staged_flows(junk, "edge", tmp)
    svc.run_once()
    assert svc.table().count() == len(clean) // 2  # the junk rows stayed hidden

    shutil.move(os.path.join(parked, late), watch)
    svc.run_once()
    assert not os.path.exists(staged)
    assert _staged_files(svc) == sorted(f"{n}.000.parquet" for n in os.listdir(watch))
    assert _rows(svc.table()) == clean


def test_deleted_decode_marker_adds_no_rows(spark, tmp_path):
    """Deleting a consumed capture's `.done` marker re-decodes it onto the
    same staged name, which the stream has already seen: no rows added."""
    watch = str(tmp_path / "watch")
    _write_captures("nffile", "bz2", watch, None, n_files=1, records=100)
    clean = _clean_table(spark, str(tmp_path / "clean"), watch, "nffile")
    svc = _native_service(spark, str(tmp_path / "svc"), watch, "nffile")
    svc.run_once()
    assert svc.table().count() == 100
    (name,) = os.listdir(watch)
    marker = os.path.join(svc._staging_dir(svc.config.sources[0]), "_decoded",
                          f"{name}.done")
    os.remove(marker)
    svc.run_once()
    assert os.path.exists(marker)
    assert svc.table().count() == 100
    assert _rows(svc.table()) == clean


def _capture_bytes(tmp_path, n_files, records):
    """The contents of ``n_files`` bz2 nffile captures, in file order."""
    gen = str(tmp_path / "gen")
    _write_captures("nffile", "bz2", gen, None, n_files=n_files, records=records)
    return [open(os.path.join(gen, n), "rb").read() for n in sorted(os.listdir(gen))]


def test_in_progress_capture_is_not_ingested(spark, tmp_path):
    """`nfcapd.current.*` is the capture nfcapd is still writing: the
    decode stage leaves it alone, and decodes it whole once nfcapd renames
    it to its rotation name. Its prefix is never ingested on its own, so
    the table equals a clean run over the two closed rotations."""
    first, second = _capture_bytes(tmp_path, 2, 40)
    clean_watch = tmp_path / "clean_watch"
    clean_watch.mkdir()
    (clean_watch / "nfcapd.202403010000").write_bytes(first)
    (clean_watch / "nfcapd.202403010005").write_bytes(second)
    clean = _clean_table(spark, str(tmp_path / "clean"), str(clean_watch), "nffile")
    assert len(clean) == 80

    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "nfcapd.202403010000").write_bytes(first)
    current = watch / "nfcapd.current.4242"
    current.write_bytes(second[: len(second) * 2 // 3])
    svc = _native_service(spark, str(tmp_path / "svc"), str(watch), "nffile")
    svc.run_once()
    assert svc.table().count() == 40
    assert _staged_files(svc) == ["nfcapd.202403010000.000.parquet"]

    current.write_bytes(second)  # nfcapd closes the file, then renames it
    os.rename(current, watch / "nfcapd.202403010005")
    svc.run_once()
    assert _rows(svc.table()) == clean


def test_truncated_closed_capture_ingests_its_prefix(spark, tmp_path):
    """A capture cut short under a rotation name (nfcapd renames a file
    only once it is closed, so no retry would find more bytes) ingests
    exactly the rows `decode_nffile` gets from it, is marked done, and a
    second run adds nothing."""
    from nfdump2clickhouse_spark.sources.nffile import decode_nffile

    (full,) = _capture_bytes(tmp_path, 1, 40)
    prefix = full[: len(full) * 6 // 10]
    decoded = decode_nffile(prefix)
    assert 0 < len(decoded) < 40
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "nfcapd.202403010000").write_bytes(prefix)
    svc = _native_service(spark, str(tmp_path / "svc"), str(watch), "nffile")
    marker = os.path.join(svc._staging_dir(svc.config.sources[0]), "_decoded",
                          "nfcapd.202403010000.done")
    cols = ["sa", "da", "sp", "dp", "pr", "flg", "ipkt", "ibyt", "ra"]
    want = sorted(t[3:] for t in decoded)
    for _ in range(2):
        svc.run_once()
        assert os.path.exists(marker)
        assert _rows(svc.table().select(*cols)) == want


def test_failed_decode_cmd_output_stays_hidden(spark, tmp_path):
    """A decode_cmd that writes part of its output and then exits non-zero
    leaves no visible `<name>.csv` and adds no rows; once the command is
    fixed, the retry ingests the whole rotation, as a clean run does."""
    watch = str(tmp_path / "watch")
    (path,) = write_flow_files(spark, watch, n_files=1, rows_per_file=80, fmt="csv")
    name = os.path.basename(path)[: -len(".csv")]
    os.rename(path, os.path.join(watch, name))
    fixed = "cp {file} {out}"
    clean_svc = _native_service(spark, str(tmp_path / "clean"), watch, "csv",
                                decode_cmd=fixed)
    clean_svc.run_once()
    clean = _rows(clean_svc.table())
    assert len(clean) == 80

    base = str(tmp_path / "svc")
    broken = 'sh -c "head -n 11 $0 > $1; exit 1" {file} {out}'
    svc = _native_service(spark, base, watch, "csv", decode_cmd=broken)
    svc.run_once()
    assert _staged_files(svc) == []
    assert not os.path.exists(svc.config.table_path)
    assert f"file={name} err=decode_cmd exited 1" in _log_text(svc)

    svc = _native_service(spark, base, watch, "csv", decode_cmd=fixed)
    svc.run_once()
    assert _staged_files(svc) == [f"{name}.csv"]
    assert _rows(svc.table()) == clean


def _three_rotations(spark, tmp_path):
    """The rows a clean single run ingests from three 100-record nffile
    rotations, and a fresh service over the same watch dir."""
    watch = str(tmp_path / "watch")
    _write_captures("nffile", "none", watch, None, n_files=3, records=100)
    clean = _clean_table(spark, str(tmp_path / "clean"), watch, "nffile")
    assert len(clean) == 300
    return clean, _native_service(spark, str(tmp_path / "svc"), watch, "nffile")


def test_crash_before_batch_marker_writes_the_batch_once(spark, tmp_path, monkeypatch):
    """A crash after batch 2's files reach the table and before its ledger
    marker (injected where the marker's dir is made), then a restart: the
    replayed batch 2 finds its commit, rolls it forward and adds no rows,
    so the table equals a clean single run."""
    from nfdump2clickhouse_spark.sources import sinks

    clean, svc = _three_rotations(spark, tmp_path)
    ledger = os.path.join(svc.config.checkpoint_root, "edge", "ledger")
    makedirs, calls = os.makedirs, []

    def crash_at_third_batch(path, *args, **kwargs):
        if path == ledger:
            calls.append(path)
            if len(calls) == 3:
                raise OSError("injected crash before the batch marker")
        return makedirs(path, *args, **kwargs)

    monkeypatch.setattr(sinks.os, "makedirs", crash_at_third_batch)
    with pytest.raises(Exception, match="injected crash"):
        svc.run_once()
    monkeypatch.undo()
    assert sorted(os.listdir(ledger)) == ["batch_0.done", "batch_1.done"]

    svc.run_once()
    assert _rows(svc.table()) == clean


def test_crash_inside_stage_stages_again(spark, tmp_path, monkeypatch):
    """A crash inside batch 1's stage, after its files are written and
    before its manifest: readers never see the staged files, and the
    replayed batch stages again, so the table equals a clean single run."""
    import nfdump2clickhouse_spark.service as service
    from nfdump2clickhouse_spark.sources.sinks import COMMIT_DIR

    clean, svc = _three_rotations(spark, tmp_path)
    write, calls = service.write_flows_partitioned, []

    def crash_at_second_batch(df, path, *args, **kwargs):
        write(df, path, *args, **kwargs)
        calls.append(path)
        if len(calls) == 2:
            raise OSError("injected crash inside stage")

    monkeypatch.setattr(service, "write_flows_partitioned", crash_at_second_batch)
    with pytest.raises(Exception, match="injected crash"):
        svc.run_once()
    monkeypatch.undo()
    commits = os.path.join(svc.config.table_path, COMMIT_DIR)
    assert os.listdir(commits) == ["edge-batch-1"]
    assert svc.table().count() == 100

    svc.run_once()
    assert _rows(svc.table()) == clean
    assert os.listdir(commits) == []


def test_backfill_crash_mid_apply_rolls_forward(spark, tmp_path, monkeypatch):
    """A crash in the middle of a backfill's apply, at its second file
    removal in the table. A drain with no new capture writes nothing, but
    starting the service rolls the backfill forward, so the table its
    readers see equals a run without the crash; so does the table after
    the next rotation's drain."""
    import shutil

    from nfdump2clickhouse_spark.sources import sinks

    captures = str(tmp_path / "captures")
    _write_captures("nffile", "none", captures, None, n_files=3, records=100)
    late = sorted(os.listdir(captures))[-1]

    def backfill_then_drain(base, crash):
        watch = os.path.join(base, "watch")
        shutil.copytree(captures, watch, ignore=shutil.ignore_patterns(late))
        svc = _native_service(spark, base, watch, "nffile")
        svc.run_once()
        table = svc.config.table_path
        corrected = svc.table().withColumn("ibyt", F.col("ibyt") * 2)
        remove, removed = os.remove, []

        def crash_on_second(path):
            if path.startswith(table) and sinks.COMMIT_DIR not in path:
                removed.append(path)
                if len(removed) == 2:
                    raise OSError(f"injected crash removing {path}")
            remove(path)

        if crash:
            monkeypatch.setattr(sinks.os, "remove", crash_on_second)
            with pytest.raises(OSError, match="injected crash"):
                svc.backfill(corrected)
            monkeypatch.undo()
            assert sorted(os.listdir(os.path.join(table, sinks.COMMIT_DIR))) == [
                "backfill", "backfill.manifest"]
        else:
            svc.backfill(corrected)
        svc.run_once()
        tables = [_rows(svc.table())]
        shutil.copy(os.path.join(captures, late), watch)
        svc.run_once()
        return tables + [_rows(svc.table())]

    clean = backfill_then_drain(str(tmp_path / "clean"), crash=False)
    assert [len(t) for t in clean] == [200, 300]
    assert backfill_then_drain(str(tmp_path / "svc"), crash=True) == clean


def test_service_reads_never_infer_parquet_schema():
    """Spark-free lint: every parquet read chain in service.py and
    sources/sinks.py carries `.schema(`, so schema inference (one Spark
    job per read) cannot creep back onto the query or compaction path."""
    import ast

    import nfdump2clickhouse_spark.service as service
    import nfdump2clickhouse_spark.sources.sinks as sinks

    reads = 0
    for module in (service, sinks):
        where = os.path.basename(module.__file__)
        for node in ast.walk(ast.parse(open(module.__file__).read())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"):
                continue
            chain, cur = [], node.func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                else:
                    cur = cur.func
            if "write" in chain or "writeStream" in chain:
                continue
            reads += 1
            assert "schema" in chain, f"{where}:{node.lineno}: parquet read without .schema("
    assert reads >= 3  # table(), the staged-parquet stream and compaction


def test_ingest_decisions_exist_once():
    """Spark-free lint over service.py, sources/ and streaming/: the
    layout-column dict (`"sa_num": ipv4_to_num(...)`) is built once, the
    two capture decoders are called only from `decode_capture` (outside
    their own modules), and the `batch_{id}.done` ledger marker path is
    built once. Decoded captures reach the flows contract only through
    `flows_arrow`: no `mapInPandas` or `timestamp_millis` call (the
    stream demo's DataSource needs neither), and no pyarrow schema
    literal that lists the flows columns besides `schemas.FLOWS`. Files
    move into place only through `sinks.commit`: `os.replace` is called
    only in `commit` and its `_apply`, and no write relies on Spark's
    `partitionOverwriteMode`."""
    import ast
    import glob

    import nfdump2clickhouse_spark as pkg
    from nfdump2clickhouse_spark.sources.netflow_v9 import FLOW_COLUMNS

    root = os.path.dirname(pkg.__file__)
    files = [os.path.join(root, "service.py"),
             *glob.glob(os.path.join(root, "sources", "*.py")),
             *glob.glob(os.path.join(root, "streaming", "*.py"))]
    decoders = {"decode_flow_stream", "decode_nffile"}
    forks = {"mapInPandas", "timestamp_millis"}
    layouts, markers, stray_calls, conversions, moves = [], [], [], [], []
    for path in files:
        text = open(path).read()
        tree = ast.parse(text)
        where = os.path.relpath(path, root)
        if "partitionOverwriteMode" in text:
            moves.append(f"{where}:partitionOverwriteMode")
        defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        aliases = {a.asname or a.name: a.name for n in ast.walk(tree)
                   if isinstance(n, (ast.Import, ast.ImportFrom)) for a in n.names}

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Dict) and any(
                    isinstance(k, ast.Constant) and k.value == "sa_num"
                    and isinstance(v, ast.Call)
                    and getattr(v.func, "id", None) == "ipv4_to_num"
                    for k, v in zip(node.keys, node.values)):
                layouts.append(f"{where}:{node.lineno}")
            if isinstance(node, ast.JoinedStr):
                text = [v.value for v in node.values if isinstance(v, ast.Constant)]
                if text and text[0].endswith("batch_") and text[-1] == ".done":
                    markers.append(f"{where}:{node.lineno}")
            if isinstance(node, ast.Call):
                f = node.func
                name = (aliases.get(f.id, f.id) if isinstance(f, ast.Name)
                        else getattr(f, "attr", None))
                if (name in decoders and name not in defined
                        and func != "decode_capture"):
                    stray_calls.append(f"{where}:{node.lineno}")
                if name in forks:
                    conversions.append(f"{where}:{func}:{name}")
                if (name == "replace" and getattr(f.value, "id", None) == "os"
                        and (where, func) not in {("sources/sinks.py", "commit"),
                                                  ("sources/sinks.py", "_apply")}):
                    moves.append(f"{where}:{node.lineno}")
                if (name == "schema" and isinstance(f, ast.Attribute)
                        and aliases.get(getattr(f.value, "id", None)) == "pyarrow"
                        and set(FLOW_COLUMNS) <= {
                            n.value for n in ast.walk(node)
                            if isinstance(n, ast.Constant)}):
                    conversions.append(f"{where}:{func}:pyarrow schema")
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    assert len(layouts) == 1, f"layout columns built at {layouts}"
    assert stray_calls == [], f"decoder called outside decode_capture at {stray_calls}"
    assert len(markers) == 1, f"batch ledger marker built at {markers}"
    assert conversions == [], f"flows contract built outside flows_arrow at {conversions}"
    assert moves == [], f"files moved into place outside sinks.commit at {moves}"


def test_nffile_decisions_exist_once():
    """Spark-free lint over the native capture decoders: in
    `sources/nffile.py` the 12-byte data-block header is unpacked only in
    the block walk `_blocks`, and the compression libraries are imported
    only in the codec table `_codecs`; in `sources/nffile.py` and
    `sources/netflow_v9.py` only `netflow_v9._finalize` maps protocol
    numbers to names (`_PROTO_NAMES.get`), the one place a FLOW_COLUMNS
    tuple is built."""
    import ast

    import nfdump2clickhouse_spark.sources as sources

    root = os.path.dirname(sources.__file__)
    libraries = {"lz4", "zstandard", "compression", "bz2"}
    found = {"block walk": [], "codec import": [], "proto names": []}
    for module in ("nffile.py", "netflow_v9.py"):

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            where = f"{module}:{func}:{getattr(node, 'lineno', 0)}"
            if module == "nffile.py":
                if (isinstance(node, ast.Call)
                        and getattr(node.func, "attr", None) in {"unpack", "unpack_from"}
                        and node.args and getattr(node.args[0], "id", None) == "_DATA_BLOCK"
                        and func != "_blocks"):
                    found["block walk"].append(where)
                names = ([a.name for a in node.names] if isinstance(node, ast.Import)
                         else [node.module or ""] if isinstance(node, ast.ImportFrom)
                         else [])
                if func != "_codecs" and any(n.split(".")[0] in libraries for n in names):
                    found["codec import"].append(where)
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "get"
                    and getattr(node.func.value, "id", None) == "_PROTO_NAMES"
                    and (module, func) != ("netflow_v9.py", "_finalize")):
                found["proto names"].append(where)
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(open(os.path.join(root, module)).read()), None)
    assert found == {"block walk": [], "codec import": [], "proto names": []}
