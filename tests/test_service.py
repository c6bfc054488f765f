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


def _write_conf(path: str, table: str, ckpt: str, dirs: dict[str, str]) -> str:
    lines = [
        "[general]",
        f"table_path = {table}",
        f"checkpoint_root = {ckpt}",
        "keep_days = 90",
    ]
    for name, d in dirs.items():
        lines += [f"[{name}]", f"watchdir = {d}"]
    conf = os.path.join(path, "nfdump2clickhouse.conf")
    with open(conf, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return conf


def test_service_end_to_end(spark, tmp_path):
    base = str(tmp_path)
    dirs = {
        "router-a": os.path.join(base, "watch_a"),
        "router-b": os.path.join(base, "watch_b"),
    }
    start = datetime(2024, 3, 1, tzinfo=timezone.utc)
    write_flow_files(spark, dirs["router-a"], n_files=2, rows_per_file=100, start=start)
    write_flow_files(spark, dirs["router-b"], n_files=1, rows_per_file=50, start=start)

    conf = _write_conf(
        base, os.path.join(base, "flows"), os.path.join(base, "ckpt"), dirs
    )
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

    conf_path = os.path.join(base, "c.conf")
    with open(conf_path, "w") as fh:
        fh.write(
            f"[general]\ntable_path = {base}/flows\n"
            f"checkpoint_root = {base}/ckpt\n"
            f"[router-raw]\nwatchdir = {watch}\n"
            "decode_cmd = cp {file} {out}\n"
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
    conf = os.path.join(base, "c.conf")
    with open(conf, "w") as fh:
        fh.write(
            f"[general]\ntable_path = {base}/flows\n"
            f"checkpoint_root = {base}/ckpt\n"
            # fixture dates are fixed (2024-03-01); a real keep_days
            # would expire them relative to today's date
            "keep_days = 100000\n"
            f"[router-x]\nwatchdir = {watch}\n"
        )

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
    conf = _write_conf(
        base, os.path.join(base, "flows"), os.path.join(base, "ckpt"), {"src": watch}
    )
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
    conf_path = os.path.join(base, "c.conf")
    with open(conf_path, "w") as fh:
        fh.write(
            f"[general]\ntable_path = {base}/flows\n"
            f"checkpoint_root = {base}/ckpt\nlog_dir = {base}/log\n"
            f"[edge]\nwatchdir = {watch}\n"
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
    conf_path = os.path.join(base, "c.conf")
    with open(conf_path, "w") as fh:
        fh.write(
            f"[general]\ntable_path = {base}/flows\n"
            f"checkpoint_root = {base}/ckpt\n[edge]\nwatchdir = {watch}\n"
        )
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
    conf_path = os.path.join(base, "c.conf")
    with open(conf_path, "w") as fh:
        fh.write(
            f"[general]\ntable_path = {base}/flows\n"
            f"checkpoint_root = {base}/ckpt\n[edge]\nwatchdir = {watch}\n"
        )
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
    conf = tmp_path / "svc.conf"
    conf.write_text(
        f"""[general]
table_path = {tmp_path}/table
checkpoint_root = {tmp_path}/ckpt

[edge-v9]
watchdir = {watch}
flowsrc = edge9
format = v9
exporter = 203.0.113.5
"""
    )
    cfg = parse_config(str(conf))
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
    return sorted(n for n in os.listdir(svc._staging_dir(svc.config.sources[0]))
                  if n != "_decoded")


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
    """A `_tmp_<name>` left in staging by an interrupted decode (a file, or
    a write directory) is ignored by the stream and overwritten when that
    capture decodes."""
    import shutil

    from nfdump2clickhouse_spark.sources.flows import write_staged_flows

    watch = str(tmp_path / "watch")
    _write_captures("nffile", "none", watch, None, n_files=2, records=16)
    clean = _clean_table(spark, str(tmp_path / "clean"), watch, "nffile")
    late = sorted(os.listdir(watch))[-1]
    parked = str(tmp_path / "parked")
    os.makedirs(parked)
    shutil.move(os.path.join(watch, late), parked)

    svc = _native_service(spark, str(tmp_path / "svc"), watch, "nffile")
    staging = svc._staging_dir(svc.config.sources[0])
    os.makedirs(staging)
    tmp = os.path.join(staging, f"_tmp_{late}")
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
    assert not os.path.exists(tmp)
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
    literal that lists the flows columns besides `schemas.FLOWS`."""
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
    layouts, markers, stray_calls, conversions = [], [], [], []
    for path in files:
        tree = ast.parse(open(path).read())
        where = os.path.relpath(path, root)
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
