"""spark-flows benchmark: one closed-loop client in one driver process on
local[<half the CPUs>], three workloads, a correctness check on every output.

    python3 perfbench/run.py --workload nffile_backlog --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` repeats the
same passes with Spark's event log attached and reports the per-layer
metrics plus the tracing overhead. Human-readable lines (every metric of
the workload with its unit, and the host-noise record) come first; the
last line of standard output is one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("nffile_backlog", "rotation_cycle", "registry_headline")

#: the metrics the JSON line carries with --trace 0; every workload has them
END_TO_END = (("setup_s", "s"), ("best_pass_cpu_s", "s"), ("peak_rss_mb", "MB"))


def per_layer_metrics(headline: list[str]) -> dict[str, str]:
    """Every per-layer metric with its unit, in report order. A workload
    that does not exercise a layer reports 0 for it."""
    m = {f"nffile.decode_ms.{c}": "ms" for c in ("none", "bz2", "lzo")}
    m.update({"nffile.records_per_s": "records/s", "flows.read_nffile_directory_ms": "ms",
              "service.decode_stage_ms": "ms", "service.decode_jobs": "count",
              "service.decode_core_util": "ratio", "service.drain_ms": "ms",
              "service.stream_overhead_ms": "ms", "service.stream.batches": "count"})
    m.update({f"service.stream.{k}_ms": "ms" for k in (
        "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")})
    m.update({"sinks.files": "count", "sinks.partitions": "count",
              "sinks.files_per_partition_max": "count", "sinks.bytes": "B",
              "nffilter.compile_ms": "ms", "query.records_read": "count",
              "query.bytes_read": "B", "query.jobs": "count", "query.tasks": "count",
              "query.records_read_per_row": "ratio", "registry.build_ms": "ms"})
    for k in headline:
        m.update({f"operators.{k}.ms": "ms", f"operators.{k}.jobs": "count",
                  f"operators.{k}.cpu_ms": "ms", f"operators.{k}.shuffle_bytes": "B"})
    m.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.executor_cpu_ms": "ms", "spark.executor_run_ms": "ms",
              "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
              "spark.spill_bytes": "B", "spark.gc_ms": "ms", "spark.input_bytes": "B",
              "spark.output_bytes": "B", "cpu.driver_py_s": "s", "cpu.jvm_s": "s",
              "cpu.jit_s": "s", "cpu.pyworker_s": "s", "trace.overhead_ms": "ms"})
    return m


def make_workload(name: str, *args):
    if name == "registry_headline":
        from headline import RegistryHeadline

        return RegistryHeadline(*args)
    from ingest import NffileBacklog, RotationCycle

    return {"nffile_backlog": NffileBacklog, "rotation_cycle": RotationCycle}[name](*args)


def run_passes(wl, seconds: float, peak, tracer=None) -> tuple[list, list, list]:
    """Closed loop: the next pass starts when the previous one returns,
    until ``seconds`` have passed and ``wl.min_passes`` passes ran (the
    last pass may end after that).

    With a ``tracer``, every untraced pass is followed by a traced one, so
    the two see the same state (a rotation_cycle table grows by one
    rotation per pass). Returns (untraced passes, traced passes, the
    traced passes' stream progress records)."""
    passes: list = []
    traced: list = []
    batches: list = []
    start = time.perf_counter()
    while True:
        for trace in (False, True) if tracer is not None else (False,):
            if trace:
                wl.start_trace()
                with tracer:
                    p = wl.run_pass()
                batches += wl.stop_trace()
            else:
                p = wl.run_pass()
            peak.observe(p.cpu)
            (traced if trace else passes).append(p)
        if len(passes) >= wl.min_passes and time.perf_counter() - start >= seconds:
            break
    return passes, traced, batches


def fmt(v: float | None) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--inject", choices=("truncate", "drop"),
                    help="damage one capture of the first timed ingest (smoke test)")
    args = ap.parse_args(argv)

    # the package under test comes from the checkout this file sits in; a
    # directory without it fails here, before anything is measured
    sys.path.insert(0, ROOT)
    import nfdump2clickhouse_spark  # noqa: F401

    import harness as h

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # Spark gets half the CPUs the process may run on: the JVM's compiler
    # and GC threads, the driver and the Python workers keep about one more
    # core busy, and a run whose task threads take every CPU stalls on any
    # co-tenant steal (on four CPUs, passes on two cores were no slower)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = h.start_spark(work, cores, f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        wl = make_workload(args.workload, spark, work, args.seed, cores, args.tiny,
                           args.inject)
        wl.setup()
        setup_s = time.perf_counter() - t0
        peak = h.PeakRss()
        peak.observe(h.sample_tree())
        noise = h.HostNoise()
        tracer = h.Tracer(spark, os.path.join(work, "eventlog")) if args.trace else None
        passes, traced, batches = run_passes(wl, args.seconds, peak, tracer)
        layers: dict[str, float] = {}
        if tracer is not None:
            probes = wl.probes()
            log = tracer.parse_and_delete()
            from headline import HEADLINE

            units = per_layer_metrics(HEADLINE)
            layers = dict.fromkeys(units, 0.0)
            layers.update(wl.layers(log, traced, batches))
            layers.update(probes)
            layers.update(h.spark_layer(log, list(log.job_group), len(traced)))
            for part in ("driver_py_s", "jvm_s", "jit_s", "pyworker_s"):
                layers[f"cpu.{part}"] = h.median([getattr(p.cpu, part) for p in traced])
            layers["trace.overhead_ms"] = 1000.0 * (
                h.median([p.wall_s for p in traced]) - h.median([p.wall_s for p in passes]))
        host = noise.report()
        extra_attempted, extra_failed = wl.finish()
        all_passes = passes + traced
        attempted = extra_attempted + sum(p.attempted for p in all_passes)
        failed = extra_failed + sum(p.failed for p in all_passes)
        samples: dict[str, list[float]] = {}
        for p in passes:
            for k, v in p.samples.items():
                samples.setdefault(k, []).extend(v)
        e2e = {
            "setup_s": setup_s,
            "best_pass_cpu_s": min(p.cpu.total_s for p in passes),
            "peak_rss_mb": peak.mb,
        }
        report = [("setup_s", setup_s, "s")]
        if "ingest_rows_per_s" in samples:
            report.append(("ingest_rows_per_s", h.median(samples["ingest_rows_per_s"]), "rows/s"))
        for name in ("rotation_visible_ms", "query_ms"):
            if name in samples:
                xs = samples[name]
                report += [(f"{name}_p50", h.percentile(xs, 0.5), f"ms (n={len(xs)})"),
                           (f"{name}_p90", h.percentile(xs, 0.9), f"ms (n={len(xs)})")]
        if "headline_s" in samples:
            report.append(("headline_s", h.median(samples["headline_s"]), "s"))
        n = f"s (n={len(passes)})"
        report += [("pass_s", h.median([p.wall_s for p in passes]), n),
                   ("best_pass_s", h.best_pass(passes), n),
                   ("cpu_s", h.median([p.cpu.total_s for p in passes]), n),
                   ("best_pass_cpu_s", e2e["best_pass_cpu_s"], n),
                   ("peak_rss_mb", peak.mb, "MB")]
        stored = wl.stored_bytes_per_row()
        if stored is not None:
            report.append(("stored_bytes_per_row", stored, "B/row"))
        report.append(("error_rate", failed / max(1, attempted), f"({failed}/{attempted})"))
        print(f"# workload={args.workload} seed={args.seed} cores={cores} "
              f"passes={len(passes)} traced_passes={len(traced)}")
        print("# host " + " ".join(f"{k}={v:.3f}" for k, v in host.items()))
        parts = {"session": session_s, **wl.setup_parts}
        print("# setup_s " + " ".join(f"{k}={v:.3f}" for k, v in parts.items()))
        print("# peak_rss_mb " + " ".join(f"{k}={v:.1f}" for k, v in peak.by_role.items()))
        for name, v, unit in report:
            print(f"{name:<28} {fmt(v):>14} {unit}")
        for name, v in layers.items():
            print(f"{name:<44} {fmt(v):>14} {units[name]}")
        metrics = ({n: {"value": v, "unit": units[n]} for n, v in layers.items()}
                   if args.trace else
                   {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END})
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        try:
            if spark is not None:
                try:
                    spark.stop()
                finally:
                    h.stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run is using it
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
