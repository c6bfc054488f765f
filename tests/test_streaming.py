"""Streaming integration tests (SURVEY §5.4): exactly-once file arrival,
watermark late-drop, dedup-within-watermark, stateful session stitching,
idempotent foreachBatch, partition-drop retention."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from nfdump2clickhouse_spark.operators.scans import retention_partition_demo
from nfdump2clickhouse_spark.streaming import pipeline as sp
from tests.conf_utils import write_conf


def test_stream_dir_exactly_once(spark):
    df = sp.run_stream_dir(spark)
    total = df.agg(F.sum("n_flows")).collect()[0][0]
    assert total == 600  # 3 files × 200 rows, each ingested exactly once


def test_foreachbatch_one_batch_per_rotation(spark):
    df = sp.run_foreachbatch(spark).orderBy("batch_id")
    rows = df.collect()
    # maxFilesPerTrigger=1 → one micro-batch per rotated file
    assert [r.batch_id for r in rows] == [0, 1, 2]
    assert all(r.n_rows == 150 for r in rows)


def test_watermark_drops_late_rows(spark):
    emitted = sp.run_watermark(spark).collect()
    # windows [0,5) and [5,10) close once the watermark passes them; the
    # 50-row late replay of rotation 0 must NOT be in the [0,5) count
    counts = {r.wstart: r.n for r in emitted}
    assert len(counts) >= 2  # completed windows actually emitted
    assert all(n == 100 for n in counts.values())


def test_dedup_within_watermark(spark):
    df = sp.run_dedup_watermark(spark)
    total = df.agg(F.sum("n_unique")).collect()[0][0]
    # 2 unique rotations × 100 rows; the replayed duplicate file adds 0
    assert total == 200


def test_stateful_session_stitch_accumulates(spark):
    df = sp.run_stateful_sessions(spark)
    total = df.agg(F.sum("n_flows")).collect()[0][0]
    assert total == 450  # 3 rotations × 150 flows, all credited to keys


def test_transform_with_state_accumulates(spark):
    # the Spark 4 TWS Python worker hard-requires google.protobuf
    pytest.importorskip("google.protobuf.descriptor")
    provider = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(provider, None)
    df = sp.run_transform_with_state(spark)
    total = df.agg(F.sum("n_flows")).collect()[0][0]
    assert total == 450  # same stitched totals as the applyInPandasWithState path
    # the RocksDB provider TWS needs stays scoped to its own drain
    assert spark.conf.get(provider, None) == before


def _compaction_service(spark, base: str):
    """A service whose one leaf holds >= 4 small files: 4 rotations in one
    dt= day drained as 4 micro-batches. Returns (service, leaf dir)."""
    from datetime import datetime, timezone

    from nfdump2clickhouse_spark.service import FlowService, parse_config
    from nfdump2clickhouse_spark.sources.flows import write_flow_files

    watch = os.path.join(base, "watch")
    write_flow_files(
        spark,
        watch,
        n_files=4,
        rows_per_file=100,
        start=datetime(2024, 3, 1, tzinfo=timezone.utc),
    )
    svc = FlowService(spark, parse_config(write_conf(base, {"src": {"watchdir": watch}})))
    svc.run_once()
    leaf = os.path.join(base, "flows", "dt=2024-03-01", "flowsrc=src")
    return svc, leaf


def test_compaction_merges_small_files(spark, tmp_path):
    svc, leaf = _compaction_service(spark, str(tmp_path))
    before = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    assert len(before) >= 4
    total_before = svc.table().count()

    compacted = svc.run_compaction()
    assert leaf in compacted
    after = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    assert len(after) == 1  # tiny data → single target file
    assert svc.table().count() == total_before  # lossless rewrite


def test_compaction_crash_leaves_readers_unchanged(spark, tmp_path, monkeypatch):
    """A crash after compaction staged its rewrite and wrote its manifest,
    before it swapped the files in, leaves the staged copy on disk under
    the table's `_commits` dir; readers must not count it as data or as a
    partition."""
    from nfdump2clickhouse_spark.sources import sinks

    svc, leaf = _compaction_service(spark, str(tmp_path))

    def rows_and_sources():
        table = svc.table()
        srcs = table.select("flowsrc").distinct().collect()
        return table.count(), sorted(r.flowsrc for r in srcs)

    before = rows_and_sources()

    def crash(path):
        raise OSError(f"injected crash removing {path}")

    monkeypatch.setattr(sinks.os, "remove", crash)
    with pytest.raises(OSError, match="injected crash"):
        svc.run_compaction()
    monkeypatch.undo()

    commits = os.listdir(os.path.join(svc.config.table_path, sinks.COMMIT_DIR))
    assert any(n.endswith(".manifest") for n in commits)
    assert rows_and_sources() == before


def test_compaction_swap_rolls_forward_after_a_crash(spark, tmp_path, monkeypatch):
    """A crash part-way through compaction's swap, at the second file
    removal in the leaf, loses no rows: the next run rolls the swap
    forward before it lists the leaf, so it finds the leaf compacted
    instead of compacting what is left, and every file leaves or enters
    the leaf together with its `.crc`."""
    from nfdump2clickhouse_spark.sources import sinks

    svc, leaf = _compaction_service(spark, str(tmp_path))
    before = sorted(svc.table().collect())
    assert len(before) == 400
    remove, removed = os.remove, []

    def crash_on_second(path):
        if os.path.dirname(path) == leaf:
            removed.append(path)
            if len(removed) == 2:
                raise OSError(f"injected crash removing {path}")
        remove(path)

    monkeypatch.setattr(sinks.os, "remove", crash_on_second)
    with pytest.raises(OSError, match="injected crash"):
        svc.run_compaction()
    monkeypatch.undo()

    assert svc.run_compaction() == []
    assert sorted(svc.table().collect()) == before
    assert os.listdir(os.path.join(svc.config.table_path, sinks.COMMIT_DIR)) == []
    names = os.listdir(leaf)
    assert len([n for n in names if n.endswith(".parquet")]) == 1
    orphans = [n for n in names if n.endswith(".crc") and n[1:-4] not in names]
    assert orphans == []


def test_retention_partition_drop(spark):
    path, dropped = retention_partition_demo(spark)
    assert dropped == ["dt=2024-03-01"]
    left = sorted(e for e in os.listdir(path) if e.startswith("dt="))
    assert left == ["dt=2024-03-02", "dt=2024-03-03"]


def test_streaming_session_windows_emit(spark):
    df = sp.run_session_stream(spark)
    rows = df.collect()
    assert len(rows) > 0
    # every emitted session belongs to a (sa, da) pair and counts >= 1 flow
    assert all(r.n_flows >= 1 and r.bytes > 0 for r in rows)
    # sessions emitted in append mode are closed & final: no (key, start) dup
    keys = [(r.sa, r.da, r.session_start) for r in rows]
    assert len(keys) == len(set(keys))


def test_restart_resumes_from_checkpoint_exactly_once(spark):
    df = sp.run_restart_resume(spark).orderBy("batch_id")
    rows = df.collect()
    # run 1: batches 0-1; run 2 (restarted, same checkpoint): batches 2-3
    # picking up ONLY the two new rotations; run 3: no-op. 4 files total,
    # each exactly once — across three separate StreamingQuery lifetimes.
    assert [r.batch_id for r in rows] == [0, 1, 2, 3]
    assert all(r.n_rows == 120 for r in rows)


def test_left_outer_stream_join_emits_unmatched(spark):
    """Outer stream-stream join contract: every request appears exactly
    once — matched rows carry the mirrored response bytes, requests with
    no response (odd source ports) are emitted with NULLs once the
    global watermark (min of BOTH sides) passes their join bound."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.streaming import pipeline as sp

    out = sp.run_stream_left_outer_join(spark).toPandas()
    assert len(out) == 300  # 3 rotations x 100 requests, each exactly once
    matched = out[out["r_ibyt"].notna()]
    unmatched = out[out["r_ibyt"].isna()]
    assert (matched["sp"] % 2 == 0).all()  # responses exist only for even sp
    assert (unmatched["sp"] % 2 == 1).all()
    assert (matched["ibyt"] == matched["r_ibyt"]).all()


def test_stream_curation_dedups_resent_docs(spark, sf_dir):
    """stream_curation_e2e: re-sent documents (doc_id%7==0 appears in all
    three rotations) must survive exactly once, and the curated output
    must equal the BATCH quality-filter + distinct pipeline over the
    same corpus."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark import registry
    from nfdump2clickhouse_spark.catalog import table

    got = registry.all_specs()["stream_curation_e2e"].fn(spark, sf_dir).toPandas()
    assert (got["n_docs"] == got["n_unique"]).all()  # no fp survives twice
    exp = (
        table(spark, sf_dir, "documents")
        .filter(
            (F.col("n_chars") >= 100)
            & (F.size(F.split("text", r"\s+")) >= 20)
        )
        .groupBy("source")
        .agg(F.countDistinct(F.xxhash64("text")).alias("n"))
        .toPandas()
        .set_index("source")["n"]
    )
    for _, row in got.iterrows():
        assert int(row["n_docs"]) == int(exp[row["source"]]), row


def test_stream_progress_metrics_reconcile(spark, sf_dir):
    """Engine telemetry must reconcile with the data: per-batch input
    rows sum to the source slice's row count, and the final state row
    count equals the distinct user count."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark import registry
    from nfdump2clickhouse_spark.catalog import table

    pdf = (
        registry.all_specs()["stream_progress_metrics"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("batch_id")
    )
    src = table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    assert int(pdf["input_rows"].sum()) == src.count()
    assert int(pdf["state_rows"].iloc[-1]) == src.select("user_id").distinct().count()
    assert len(pdf) == 3  # one micro-batch per rotation


def test_v9_stream_source_offsets_ingest_exactly_once(spark):
    """stream_v9_source: the Python DataSource stream reader must drain
    2 rotations, then ingest ONLY the late third rotation on the next
    micro-batch (offset = last rotation name), with full-contract rows."""
    from nfdump2clickhouse_spark.streaming.pipeline import run_v9_stream_source

    pdf = run_v9_stream_source(spark).toPandas().sort_values("capture")
    assert list(pdf["capture"]) == [
        "nfcapd.v9.0000", "nfcapd.v9.0001", "nfcapd.v9.0002"]
    assert list(pdf["n_flows"]) == [10, 10, 6]
    assert (pdf["n_first_drain"] == 20).all()
    assert (pdf["n_total"] == 26).all()
    assert (pdf["first_ms"] > 1_700_000_000_000).all()


def test_v9_stream_source_checkpoint_restart(spark, tmp_path):
    """The offset contract survives a REAL restart: stop the query,
    start a NEW query on the same checkpoint, drop in a later rotation
    — only the new rotation is ingested (the committed offset, not a
    fresh initialOffset, decides)."""
    import os
    import shutil

    from nfdump2clickhouse_spark.sources.netflow_v9 import write_netflow_v9
    from nfdump2clickhouse_spark.streaming.pipeline import run_v9_stream_source  # noqa: F401
    # run_v9_stream_source registers the v9_stream data source on import-use;
    # register it here the same way for an independent query pair
    import nfdump2clickhouse_spark.streaming.pipeline as sp

    cap = str(tmp_path / "caps")
    write_netflow_v9(cap, n_files=2, records_per_file=8)
    ckpt = str(tmp_path / "ckpt")
    out1 = sp.run_v9_restartable(spark, cap, ckpt)
    assert out1 == 16  # both initial rotations
    # late rotation lands while no query is running
    extra = str(tmp_path / "extra")
    write_netflow_v9(extra, n_files=1, records_per_file=5)
    shutil.move(
        os.path.join(extra, "nfcapd.v9.0000"),
        os.path.join(cap, "nfcapd.v9.0002"),
    )
    out2 = sp.run_v9_restartable(spark, cap, ckpt)
    assert out2 == 21  # 16 replay-free + exactly the 5 new rows


def test_v9_stream_source_refuses_nffile_captures(spark, tmp_path):
    """A v9_stream query over nfdump on-disk captures fails with the
    decoder's error naming format=nffile; it must not stream zero rows."""
    from nfdump2clickhouse_spark.sources.nffile import write_nffile

    cap = str(tmp_path / "caps")
    write_nffile(cap, n_files=1, records_per_file=8)
    with pytest.raises(Exception, match="format=nffile"):
        sp.run_v9_restartable(spark, cap, str(tmp_path / "ckpt"))


def test_capture_stream_source_skips_in_progress_capture(spark, tmp_path):
    """On a live nfcapd directory `nfcapd.current.<pid>` always exists and
    sorts after every rotation name. The capture stream source must not
    take it as its offset: each drain reads exactly the closed rotations,
    as a clean run over them would (40, 80, 120 rows), and never the
    in-progress prefix."""
    from nfdump2clickhouse_spark.sources.nffile import write_nffile

    gen = tmp_path / "gen"
    write_nffile(str(gen), n_files=3, records_per_file=40)
    captures = [p.read_bytes() for p in sorted(gen.iterdir())]
    cap = tmp_path / "caps"
    cap.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain() -> int:
        sp._register_flow_stream_source(spark, "nffile_stream", "nffile")
        q = (
            spark.readStream.format("nffile_stream").option("path", str(cap)).load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    (cap / "nfcapd.202403010000").write_bytes(captures[0])
    current = cap / "nfcapd.current.4242"
    counts = []
    for i, content in enumerate(captures[1:], 1):
        current.write_bytes(content[: len(content) * 2 // 3])
        counts.append(drain())
        current.write_bytes(content)  # nfcapd closes the file, then renames it
        os.rename(current, cap / f"nfcapd.20240301{i * 5:04d}")
    counts.append(drain())
    assert counts == [40, 80, 120]


def test_demo_dirs_are_removed_at_exit(tmp_path):
    """Spark-free: a process that made a demo temp dir with `_tmp` leaves
    nothing behind once it exits."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "from nfdump2clickhouse_spark.streaming.pipeline import _tmp; print(_tmp('x'))"
    made = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
        env={**os.environ, "TMPDIR": str(tmp_path)}, check=True,
    ).stdout.strip()
    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made)
    assert os.listdir(tmp_path) == []


def test_streaming_decisions_exist_once():
    """Spark-free lint over service.py, sources/flows.py and
    streaming/pipeline.py: a directory is listed (`os.listdir`) only in
    `closed_captures`, so no reader can offer the capture nfcapd is still
    writing; and the availableNow trigger is set only in `pipeline._drain`
    and `FlowService.start`, so every demo drains the same way."""
    import ast

    import nfdump2clickhouse_spark as pkg

    root = os.path.dirname(pkg.__file__)
    allowed = {
        "listdir": {("sources/flows.py", "closed_captures")},
        "availableNow": {("streaming/pipeline.py", "_drain"), ("service.py", "start")},
    }
    found = {"listdir": [], "availableNow": []}
    for module in ("service.py", "sources/flows.py", "streaming/pipeline.py"):

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                f = node.func
                if f.attr == "listdir" and getattr(f.value, "id", None) == "os":
                    found["listdir"].append((module, func))
                if f.attr == "trigger" and any(
                        k.arg == "availableNow" for k in node.keywords):
                    found["availableNow"].append((module, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(open(os.path.join(root, module)).read()), None)
    for what, calls in found.items():
        assert calls and set(calls) <= allowed[what], f"{what} at {calls}"
