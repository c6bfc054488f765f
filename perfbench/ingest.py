"""The ingest workloads: ``nffile_backlog`` (an operator's catch-up drain
after an outage) and ``rotation_cycle`` (steady 5-minute operation with
an analyst querying between rotations).

Both drive the service the way a deployment does: capture files written
by ``sources.nffile.write_nffile`` arrive atomically (copy, then rename)
in a watched directory, ``FlowService.decode_nffile_files`` stages them
and ``FlowService.run_once`` drains the stream into the partitioned
table. Every landed source is checked against the tuples the writer
returned, and every analyst query against DuckDB over the same rows.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from nfdump2clickhouse_spark.functions.ip import cidr_range
from nfdump2clickhouse_spark.functions.nffilter import compile_filter
from nfdump2clickhouse_spark.schemas import FLOWS
from nfdump2clickhouse_spark.service import FlowService, ServiceConfig, SourceConfig
from nfdump2clickhouse_spark.sources import nffile
from nfdump2clickhouse_spark.sources.flows import read_nffile_directory

from harness import Pass, Workload, job_group, jobs_for_group

CODECS = {
    "none": nffile.COMPRESSION_NONE,
    "bz2": nffile.COMPRESSION_BZ2,
    "lzo": nffile.COMPRESSION_LZO,
}
SOURCES = ("ams", "fra")
#: untimed passes before timing: the JIT keeps speeding passes up
WARM_PASSES = 2


@dataclass
class Capture:
    name: str  # file name it arrives under in the watch dir
    path: str  # the generated file
    codec: str
    flowsrc: str
    rows: list  # expected decoded tuples (FLOW_COLUMNS order)


def generate_captures(store: str, flowsrc: str, exporter: str, n_files: int,
                      records: int, codec_order: list[str], first: int = 0) -> list[Capture]:
    """Captures ``first`` .. ``n_files - 1`` of a series of ``n_files``
    nffile-v2 captures for one source; capture j is compressed with
    ``codec_order[j % len(codec_order)]``.

    ``write_nffile`` numbers a codec's files from 0 and a file's number
    sets its flow timestamps (300 s apart), so the tail of a series is
    made by writing the whole series and deleting the head."""
    out: dict[int, Capture] = {}
    for codec in dict.fromkeys(codec_order):
        idx = [j for j in range(n_files) if codec_order[j % len(codec_order)] == codec]
        if not idx:
            continue
        d = os.path.join(store, flowsrc, f"{codec}-{first}")
        rows = nffile.write_nffile(d, n_files=len(idx), records_per_file=records,
                                   compression=CODECS[codec], exporter=exporter)
        for i, j in enumerate(idx):
            path = os.path.join(d, f"nfcapd.nf.{i:04d}")
            if j < first:
                os.remove(path)
            else:
                out[j] = Capture(f"nfcapd.{flowsrc}.{j:04d}", path, codec, flowsrc,
                                 rows[i * records:(i + 1) * records])
    return [out[j] for j in sorted(out)]


def land(cap: Capture, watch_dir: str) -> str:
    """Atomic arrival, as nfcapd rotates a file: copy under a temporary
    name outside the watch dir, then rename into it."""
    os.makedirs(watch_dir, exist_ok=True)
    tmp = os.path.join(os.path.dirname(watch_dir), f".{cap.name}.part")
    shutil.copyfile(cap.path, tmp)
    dst = os.path.join(watch_dir, cap.name)
    os.rename(tmp, dst)
    return dst


def inject_fault(kind: str, landed: list[str]) -> None:
    """The smoke test's injected faults: truncate the first landed capture
    to 60 % of its bytes, or drop the last one before the drain."""
    if kind == "truncate":
        with open(landed[0], "r+b") as fh:
            fh.truncate(int(os.path.getsize(landed[0]) * 0.6))
    elif kind == "drop":
        os.remove(landed[-1])


def summarize(rows: list) -> tuple[int, int, int, int]:
    """(rows, Σibyt, Σipkt, distinct sa) of FLOW_COLUMNS tuples."""
    return (len(rows), sum(r[10] for r in rows), sum(r[9] for r in rows),
            len({r[3] for r in rows}))


def table_summary(svc: FlowService) -> dict[str, tuple[int, int, int, int]]:
    got = (
        svc.table()
        .groupBy("flowsrc")
        .agg(F.count(F.lit(1)), F.sum("ibyt"), F.sum("ipkt"), F.countDistinct("sa"))
        .collect()
    )
    return {r[0]: (r[1], r[2] or 0, r[3] or 0, r[4]) for r in got}


def dir_layout(table_path: str) -> dict[str, float]:
    """File count, leaf partitions, widest partition and bytes of the
    at-rest table, counted from the directory."""
    files = parts = widest = size = 0
    for d, _subdirs, names in os.walk(table_path):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            parts += 1
            widest = max(widest, len(data))
            files += len(data)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
    return {"sinks.files": files, "sinks.partitions": parts,
            "sinks.files_per_partition_max": widest, "sinks.bytes": size}


class ProgressLog:
    """Collects StreamingQueryProgress.durationMs of every micro-batch the
    drains run (traced passes only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = dict(event.progress.durationMs)
                d["run"] = str(event.progress.runId)
                log.batches.append(d)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated += 1

        self.batches: list[dict] = []
        self.terminated = 0
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def wait_terminated(self, n: int, timeout_s: float = 10.0) -> None:
        end = time.monotonic() + timeout_s
        while self.terminated < n and time.monotonic() < end:
            time.sleep(0.01)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class IngestWorkload(Workload):
    """Shared machinery: per-source captures, the service, one ingest step
    (land → decode stage → drain) and the in-process decode probes."""

    def __init__(self, spark, work: str, seed: int, cores: int, tiny: bool,
                 inject: str | None):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.tiny, self.inject = tiny, inject
        self.exporter = f"192.0.2.{1 + seed % 250}"
        self.progress: ProgressLog | None = None
        self.steps = 0

    def service(self, base: str, max_files: int) -> FlowService:
        return FlowService(self.spark, ServiceConfig(
            table_path=os.path.join(base, "table"),
            checkpoint_root=os.path.join(base, "ckpt"),
            sources=tuple(
                SourceConfig(name=s, watch_dir=os.path.join(base, "watch", s),
                             flowsrc=s, fmt="nffile", exporter=self.exporter)
                for s in SOURCES
            ),
            max_files_per_trigger=max_files,
        ))

    def ingest(self, svc: FlowService, caps: list[Capture], p: Pass) -> float:
        """Land ``caps``, run the decode stage, drain; returns the epoch
        of arrival (perf_counter) so callers can time visibility."""
        by_src = {s.flowsrc: s.watch_dir for s in svc.config.sources}
        landed = [land(c, by_src[c.flowsrc]) for c in caps]
        self.steps += 1
        if self.inject and self.steps == WARM_PASSES + 1:  # the first timed step
            inject_fault(self.inject, landed)
        arrival = time.perf_counter()
        t0 = time.perf_counter()
        group = f"pb.decode.{self.steps}"
        job_group(self.spark, group)
        try:
            for src in svc.config.sources:
                svc.decode_nffile_files(src)
        finally:
            job_group(self.spark, None)
        t1 = time.perf_counter()
        if self.progress is not None:
            ended = self.progress.terminated + len(svc.config.sources)
            seen = len(self.progress.batches)
        svc.run_once()
        t2 = time.perf_counter()
        if self.progress is not None:
            self.progress.wait_terminated(ended)
            # the sources' streams run concurrently: the drain is bound by
            # the stream with the most trigger time
            per_run: dict[str, float] = {}
            for b in self.progress.batches[seen:]:
                per_run[b["run"]] = per_run.get(b["run"], 0) + b.get("triggerExecution", 0)
            p.extra["trigger_ms"] = p.extra.get("trigger_ms", 0.0) + max(per_run.values(),
                                                                         default=0.0)
        p.extra["decode_ms"] = p.extra.get("decode_ms", 0.0) + 1000.0 * (t1 - t0)
        p.extra["drain_ms"] = p.extra.get("drain_ms", 0.0) + 1000.0 * (t2 - t1)
        p.extra["decode_jobs"] = p.extra.get("decode_jobs", 0) + jobs_for_group(self.spark, group)
        return arrival

    # --- traced run ---------------------------------------------------------

    def start_trace(self) -> None:
        self.progress = ProgressLog(self.spark)

    def stop_trace(self) -> list[dict]:
        assert self.progress is not None
        self.progress.close()
        batches, self.progress = self.progress.batches, None
        return batches

    def decode_probes(self, caps: list[Capture], watch_dir: str) -> dict[str, float]:
        """``decode_nffile`` in-process on the same captures (ms per
        capture, by codec), and ``read_nffile_directory`` into the noop
        sink over one source's captures."""
        out: dict[str, float] = {}
        total_recs = total_s = 0.0
        for codec in CODECS:
            mine = [c for c in caps if c.codec == codec][:3]
            times = []
            for c in mine:
                with open(c.path, "rb") as fh:
                    content = fh.read()
                t = time.perf_counter()
                n = len(nffile.decode_nffile(content, exporter=self.exporter))
                times.append(time.perf_counter() - t)
                total_recs += n
            total_s += sum(times)
            out[f"nffile.decode_ms.{codec}"] = 1000.0 * sum(times) / len(times) if times else 0.0
        out["nffile.records_per_s"] = total_recs / total_s if total_s else 0.0
        t = time.perf_counter()
        read_nffile_directory(self.spark, watch_dir, flowsrc=SOURCES[0],
                              exporter=self.exporter).write.format("noop").mode("overwrite").save()
        out["flows.read_nffile_directory_ms"] = 1000.0 * (time.perf_counter() - t)
        return out

    def stage_probe_dir(self, caps: list[Capture]) -> str:
        d = os.path.join(self.work, "probe", SOURCES[0])
        for c in caps:
            if c.flowsrc == SOURCES[0]:
                land(c, d)
        return d

    def ingest_layers(self, log, passes: list[Pass], batches: list[dict]) -> dict[str, float]:
        n = max(1, len(passes))
        decode_jobs = log.jobs_in("pb.decode.")
        decode_ms = sum(p.extra["decode_ms"] for p in passes)
        drain_ms = sum(p.extra["drain_ms"] for p in passes)
        dur = lambda k: sum(b.get(k, 0) for b in batches)  # noqa: E731
        out = {
            "service.decode_stage_ms": decode_ms / n,
            "service.decode_jobs": sum(p.extra["decode_jobs"] for p in passes) / n,
            "service.decode_core_util": (log.totals(decode_jobs).run_ms / (decode_ms * self.cores)
                                         if decode_ms else 0.0),
            "service.drain_ms": drain_ms / n,
            "service.stream_overhead_ms": (drain_ms - sum(p.extra.get("trigger_ms", 0.0)
                                                          for p in passes)) / n,
            "service.stream.batches": len(batches) / n,
        }
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                  "latestOffset", "getBatch"):
            out[f"service.stream.{k}_ms"] = dur(k) / n
        return out


class NffileBacklog(IngestWorkload):
    """Catch-up drain of a backlog of nffile-v2 captures from two watched
    sources, codecs rotating none/bz2/LZO by file, one micro-batch per
    source (``max_files_per_trigger`` covers the backlog). Decode
    dominates; per-trigger stream cost is amortised."""

    def setup(self) -> None:
        t0 = time.perf_counter()
        n_files, records = (3, 60) if self.tiny else (3, 5000 + self.seed % 64)
        order = list(CODECS)
        k = self.seed % 3
        order = order[k:] + order[:k]
        store = os.path.join(self.work, "captures")
        self.caps = [c for s in SOURCES
                     for c in generate_captures(store, s, self.exporter, n_files, records, order)]
        self.n_files = n_files
        self.expected = {s: summarize([r for c in self.caps if c.flowsrc == s for r in c.rows])
                         for s in SOURCES}
        self.last_table = ""
        t1 = time.perf_counter()
        # warm-up: full ingest cycles, untimed
        for _ in range(WARM_PASSES):
            self.run_pass()
        self.setup_parts = {"inputs": t1 - t0, "warmup": time.perf_counter() - t1}

    def run_pass(self) -> Pass:
        p = Pass()
        base = os.path.join(self.work, f"backlog{self.steps}")  # a fresh service
        svc = self.service(base, self.n_files)
        p.begin()
        self.ingest(svc, self.caps, p)
        p.end()
        # from the first decode call to the end of the drain
        p.wall_s = (p.extra["decode_ms"] + p.extra["drain_ms"]) / 1000.0
        p.ops["ingest"] = p.wall_s
        got = table_summary(svc)
        for s in SOURCES:
            p.attempted += 1
            p.failed += got.get(s) != self.expected[s]
        p.sample("ingest_rows_per_s", sum(v[0] for v in got.values()) / p.wall_s)
        if self.last_table:
            shutil.rmtree(os.path.dirname(self.last_table), ignore_errors=True)
        self.last_table = svc.config.table_path
        return p

    def stored_bytes_per_row(self) -> float:
        rows = sum(v[0] for v in self.expected.values())
        return dir_layout(self.last_table)["sinks.bytes"] / rows

    def probes(self) -> dict[str, float]:
        return self.decode_probes(self.caps, self.stage_probe_dir(self.caps))

    def layers(self, log, passes, batches) -> dict[str, float]:
        out = self.ingest_layers(log, passes, batches)
        out.update(dir_layout(self.last_table))
        return out


# --- rotation_cycle -----------------------------------------------------------

#: preload window: seven days ending where the first rotation starts
#: (``write_nffile`` stamps capture f at 2024-03-02 00:00 UTC + 300 s · f)
PRELOAD_START_US = 1_708_732_800_000_000  # 2024-02-24 00:00 UTC
PRELOAD_DAYS = 7
LAST_HOUR = "2024-03-01 23:00:00"
_CIDR = "10.1.0.0/16"
_HOST = "10.1.2.3"

#: the analyst's fixed query mix: (shape, how it is issued, Spark text,
#: DuckDB predicate or statement)
QUERIES = (
    ("cidr_port", "filter", f"src net {_CIDR} and dst port 443",
     "sa_num BETWEEN {lo} AND {hi} AND dp = 443".format(
         lo=cidr_range(_CIDR)[0], hi=cidr_range(_CIDR)[1])),
    ("host", "filter", f"host {_HOST}", f"sa = '{_HOST}' OR da = '{_HOST}'"),
    ("proto", "filter", "proto udp", "pr = 'UDP'"),
    ("top_talkers", "sql",
     f"SELECT sa, SUM(ibyt) AS b FROM flows WHERE ts >= TIMESTAMP '{LAST_HOUR}' "
     "GROUP BY sa ORDER BY b DESC, sa LIMIT 10",
     f"SELECT sa, CAST(SUM(ibyt) AS BIGINT) AS b FROM flows WHERE ts >= TIMESTAMP '{LAST_HOUR}' "
     "GROUP BY sa ORDER BY b DESC, sa LIMIT 10"),
)


def _ip_num(s: str) -> int | None:
    if ":" in s:
        return None
    a, b, c, d = (int(x) for x in s.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def preload_table(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """``n`` flows over seven days for both sources (FLOWS columns), plus
    the numeric columns the DuckDB oracle needs."""
    ts = PRELOAD_START_US + rng.integers(0, PRELOAD_DAYS * 86_400_000_000, n)
    td_ms = rng.integers(0, 120_000, n)
    host = rng.integers(0, 8 * 16 * 64, n)
    sa_num = (10 << 24) | ((host >> 10) << 16) | (((host >> 6) & 15) << 8) | (host & 63)
    sa_pool = [f"10.{h >> 10}.{(h >> 6) & 15}.{h & 63}" for h in range(8 * 16 * 64)]
    dst = rng.integers(0, 1024, n)
    da_pool = [f"192.168.{h >> 8}.{h & 255}" for h in range(1024)]
    proto_i = rng.choice(3, n, p=[0.6, 0.3, 0.1])
    ipkt = 1 + rng.geometric(0.05, n)
    ibyt = ipkt * rng.integers(40, 1500, n)
    src_i = rng.integers(0, len(SOURCES), n)

    def pick(pool, idx):
        return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()),
                                              pa.array(pool)).cast(pa.string())

    tbl = pa.table({
        "ts": pa.array(ts, pa.timestamp("us")),
        "te": pa.array(ts + td_ms * 1000, pa.timestamp("us")),
        "td": pa.array(td_ms / 1000.0),
        "sa": pick(sa_pool, host),
        "da": pick(da_pool, dst),
        "sp": pa.array(rng.integers(1024, 65535, n), pa.int32()),
        "dp": pa.array(rng.choice(np.array([80, 443, 53, 22, 8080, 123]), n), pa.int32()),
        "pr": pick(["TCP", "UDP", "ICMP"], proto_i),
        "flg": pick(["...A.S.", "....S..", "......."], rng.integers(0, 3, n)),
        "ipkt": pa.array(ipkt, pa.int64()),
        "ibyt": pa.array(ibyt, pa.int64()),
        "ra": pa.array(["172.16.0.1"] * n),
        "flowsrc": pick(list(SOURCES), src_i),
    })
    expected = {}
    for i, s in enumerate(SOURCES):
        m = src_i == i
        expected[s] = (int(m.sum()), int(ibyt[m].sum()), int(ipkt[m].sum()),
                       {sa_pool[h] for h in np.unique(host[m])})
    return tbl.append_column("sa_num", pa.array(sa_num, pa.int64())), expected


class RotationCycle(IngestWorkload):
    """Steady operation over a preloaded multi-day table: one small rotation
    per source lands and ``run_once`` drains it (one file per trigger),
    then the analyst runs the fixed query mix. Per-trigger stream cost and
    scan pruning dominate, not decode."""

    # a pass's CPU fell by a third over the first five timed passes
    min_passes = 5

    def setup(self) -> None:
        t0 = time.perf_counter()
        rng = np.random.default_rng(self.seed)
        n_pre, records = (20_000, 50) if self.tiny else (300_000, 3000 + self.seed % 64)
        self.records = records
        self.rotations: list[tuple[Capture, ...]] = []
        self.generate_rotations(WARM_PASSES + 10)  # more follow when a long run needs them
        self.next_rot = self.timed_rotations = 0
        t1 = time.perf_counter()
        # preload, untimed: staged parquet written through the service's
        # own backfill path, so it gets the sink's layout and sort
        pre, pre_exp = preload_table(rng, n_pre)
        staged = os.path.join(self.work, "preload")
        os.makedirs(staged)
        pq.write_table(pre.drop(["sa_num"]), os.path.join(staged, "part-0.parquet"))
        self.svc = self.service(os.path.join(self.work, "service"), 1)
        self.svc.backfill(self.spark.read.schema(FLOWS).parquet(staged))
        shutil.rmtree(staged)
        # what the table should hold per source: rows, Σibyt, Σipkt, sa set
        self.expected = pre_exp
        self.duck = duckdb.connect()
        self.duck.register("pre", pre.select(["ts", "sa", "da", "sa_num", "dp", "pr",
                                              "ipkt", "ibyt", "flowsrc"]))
        self.duck.execute("CREATE TABLE flows AS SELECT * FROM pre")
        self.duck.unregister("pre")
        t2 = time.perf_counter()
        # warm-up: rotations with the full query mix, untimed
        for _ in range(WARM_PASSES):
            self.run_pass()
        self.timed_rotations = 0
        self.setup_parts = {"inputs": t1 - t0, "preload": t2 - t1,
                            "warmup": time.perf_counter() - t2}

    def generate_rotations(self, n_rot: int) -> None:
        """Extend the rotation series to ``n_rot`` rotations, each one
        capture per source. Codecs cycle none/bz2/LZO from rotation to
        rotation, offset by one between the sources, so every seed decodes
        the same codec mix."""
        store = os.path.join(self.work, "captures")
        first = len(self.rotations)
        codecs = list(CODECS)
        per_src = [generate_captures(store, s, self.exporter, n_rot, self.records,
                                     codecs[k:] + codecs[:k], first)
                   for k, s in enumerate(SOURCES)]
        self.rotations += zip(*per_src)

    def _query(self, shape: str, how: str, text: str) -> list[tuple]:
        group = f"pb.q.{shape}"
        job_group(self.spark, group)
        try:
            if how == "filter":
                df = self.svc.query_filter(text).agg(F.count(F.lit(1)), F.sum("ibyt"),
                                                     F.sum("ipkt"))
            else:
                df = self.svc.sql(text)
            return [tuple(r) for r in df.collect()]
        finally:
            job_group(self.spark, None)

    def run_pass(self) -> Pass:
        if self.next_rot >= len(self.rotations):
            self.generate_rotations(2 * len(self.rotations))
        caps = self.rotations[self.next_rot]
        self.next_rot += 1
        self.timed_rotations += 1
        p = Pass()
        p.begin()
        t_arrival = self.ingest(self.svc, list(caps), p)
        visible = time.perf_counter() - t_arrival
        p.ops["ingest"] = visible
        results = []
        for shape, how, text, _oracle in QUERIES:
            t = time.perf_counter()
            results.append(self._query(shape, how, text))
            p.ops[f"query.{shape}"] = time.perf_counter() - t
            p.sample("query_ms", 1000.0 * p.ops[f"query.{shape}"])
        p.end()
        p.wall_s = visible + sum(p.samples["query_ms"]) / 1000.0
        p.sample("rotation_visible_ms", 1000.0 * visible)
        # the oracle follows the table: this rotation's rows go into DuckDB
        rows = []
        for c in caps:
            n, b, k, sas = self.expected[c.flowsrc]
            self.expected[c.flowsrc] = (n + len(c.rows), b + sum(r[10] for r in c.rows),
                                        k + sum(r[9] for r in c.rows),
                                        sas | {r[3] for r in c.rows})
            rows += [(r[0], r[3], r[4], _ip_num(r[3]), r[6], r[7], r[9], r[10], c.flowsrc)
                     for r in c.rows]
            c.rows = []  # landed: a long run keeps only the aggregates
        p.sample("ingest_rows_per_s", len(rows) / visible)
        rot = pd.DataFrame(rows, columns=["ts", "sa", "da", "sa_num", "dp", "pr", "ipkt",
                                          "ibyt", "flowsrc"])
        self.duck.register("rot", rot)
        self.duck.execute("INSERT INTO flows SELECT make_timestamp(ts * 1000), sa, da, sa_num, "
                          "dp, pr, ipkt, ibyt, flowsrc FROM rot")
        self.duck.unregister("rot")
        p.attempted += len(SOURCES)
        for (_shape, how, _text, oracle), got in zip(QUERIES, results):
            sql = (oracle if how == "sql" else
                   "SELECT count(*), CAST(sum(ibyt) AS BIGINT), CAST(sum(ipkt) AS BIGINT) "
                   f"FROM flows WHERE {oracle}")
            p.attempted += 1
            p.failed += got != [tuple(r) for r in self.duck.execute(sql).fetchall()]
            if how == "filter":
                p.extra["matched_rows"] = p.extra.get("matched_rows", 0) + got[0][0]
        p.extra["queries"] = len(QUERIES)
        return p

    def finish(self) -> tuple[int, int]:
        """The whole table against preload + every landed rotation, per
        source; a mismatching source fails each of its timed rotations."""
        got = table_summary(self.svc)
        failed = 0
        for s in SOURCES:
            n, b, k, sas = self.expected[s]
            if got.get(s) != (n, b, k, len(sas)):
                failed += self.timed_rotations
        return 0, failed

    def stored_bytes_per_row(self) -> float:
        rows = sum(v[0] for v in table_summary(self.svc).values())
        return dir_layout(self.svc.config.table_path)["sinks.bytes"] / max(1, rows)

    def probes(self) -> dict[str, float]:
        caps = [c for rot in self.rotations[:10] for c in rot]
        out = self.decode_probes(caps, self.stage_probe_dir(caps))
        reps = 20
        t = time.perf_counter()
        for _ in range(reps):
            for _shape, how, text, _o in QUERIES:
                if how == "filter":
                    compile_filter(text)
        n_filters = sum(1 for q in QUERIES if q[1] == "filter")
        out["nffilter.compile_ms"] = 1000.0 * (time.perf_counter() - t) / (reps * n_filters)
        return out

    def layers(self, log, passes, batches) -> dict[str, float]:
        out = self.ingest_layers(log, passes, batches)
        out.update(dir_layout(self.svc.config.table_path))
        jobs = log.jobs_in("pb.q.")
        t = log.totals(jobs)
        nq = max(1, sum(p.extra.get("queries", 0) for p in passes))
        # rows examined per matching row, over the nfdump-filter shapes
        filt = log.totals([j for j in jobs if log.job_group[j] != "pb.q.top_talkers"])
        matched = sum(p.extra.get("matched_rows", 0) for p in passes)
        out.update({
            "query.records_read": t.input_records / nq,
            "query.bytes_read": t.input_bytes / nq,
            "query.jobs": len(jobs) / nq,
            "query.tasks": t.tasks / nq,
            "query.records_read_per_row": filt.input_records / matched if matched else 0.0,
        })
        return out
