"""Compare the ``registry_headline`` keys on the benchmark's generated
tables with the same keys on a fixture directory of the same scale, key
by key:

    python3 perfbench/fixture_compare.py --fixture DIR --sf 0.1 --passes 3

Both table sets run in one Spark session on local[<cores>], fixture
first. Each is checked against the DuckDB oracle and warmed up as in a
benchmark run, then ``--passes`` passes run with the event log attached.
Prints one markdown row per key: result rows, median wall ms, Spark jobs,
executor CPU ms and shuffle bytes (read + written) per pass on the
fixture and on the generated tables, and the generated/fixture ratio of
the wall ms.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def measure(spark, work: str, cores: int, seed: int, sf: float, tables: str | None,
            passes: int) -> dict:
    import harness as h
    from headline import HEADLINE, RegistryHeadline

    wl = RegistryHeadline(spark, work, seed, cores, False, None, tables=tables)
    wl.sf = sf
    wl.setup()
    tracer = h.Tracer(spark, os.path.join(work, "eventlog"))
    traced = []
    for _ in range(passes):
        with tracer:
            traced.append(wl.run_pass())
    layers = wl.layers(tracer.parse_and_delete(), traced, [])
    out = {"failed": wl.check_failed}
    for key in HEADLINE:
        out[key] = {
            "rows": wl.rows[key],
            "ms": h.median([p.extra[f"ms.{key}"] for p in traced]),
            "jobs": layers[f"operators.{key}.jobs"],
            "cpu_ms": layers[f"operators.{key}.cpu_ms"],
            "shuffle_bytes": layers[f"operators.{key}.shuffle_bytes"],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--fixture", required=True, help="directory with the ten <table>.parquet")
    ap.add_argument("--sf", type=float, required=True, help="the fixture's scale factor")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    import harness as h
    from headline import HEADLINE

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work", f"compare-{os.getpid()}")
    spark = None
    try:
        spark = h.start_spark(work, cores, "perfbench-fixture-compare")
        fix = measure(spark, os.path.join(work, "f"), cores, args.seed, args.sf,
                      os.path.abspath(args.fixture), args.passes)
        gen = measure(spark, os.path.join(work, "g"), cores, args.seed, args.sf, None,
                      args.passes)
    finally:
        if spark is not None:
            try:
                spark.stop()
            finally:
                h.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(f"oracle mismatches: fixture {fix['failed']}, generated {gen['failed']} "
          f"(sf {args.sf}, {cores} cores, {args.passes} traced passes each)")
    print("| key | rows f / g | ms f / g | ratio | jobs f / g | cpu ms f / g "
          "| shuffle KB f / g |")
    print("|---|---|---|---|---|---|---|")
    tot = {"f": 0.0, "g": 0.0}
    for key in HEADLINE:
        f, g = fix[key], gen[key]
        tot["f"] += f["ms"]
        tot["g"] += g["ms"]
        print(f"| `{key}` | {f['rows']} / {g['rows']} | {f['ms']:.0f} / {g['ms']:.0f} "
              f"| {g['ms'] / f['ms']:.2f} | {f['jobs']:.0f} / {g['jobs']:.0f} "
              f"| {f['cpu_ms']:.0f} / {g['cpu_ms']:.0f} "
              f"| {f['shuffle_bytes'] / 1024:.0f} / {g['shuffle_bytes'] / 1024:.0f} |")
    print(f"| total | | {tot['f']:.0f} / {tot['g']:.0f} | {tot['g'] / tot['f']:.2f} | | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
