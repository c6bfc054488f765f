"""Optimization-round measurement harness (guide §1).

For each requested key: capture ``explain("formatted")`` into
``plans/r12/<key>_<tag>.txt`` and time best-of-N noop-sink runs with a
job description, printing one JSON line with per-key seconds and plan
stats (Exchange count, join strategies, Python eval nodes).

Usage:
    python tools/opt_measure_r12.py <tag> [key ...]      # default: bench set
    SPARK_GRAFT_SF_DIR=<sf0.1 fixture dir> python tools/opt_measure_r12.py before
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from nfdump2clickhouse_spark import registry
from nfdump2clickhouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "plans", "r12")
REPS = int(os.environ.get("SPARK_GRAFT_OPT_REPS", "3"))

BENCH_SET = [
    # headline (bench.py HEADLINE)
    "agg_pricing_summary", "agg_groupby_time", "agg_count_distinct",
    "join_multiway", "join_theta_range", "join_asof", "win_running_sum",
    "topk_per_group", "win_tumbling", "dedup_keep_first",
    "str_split_explode", "text_tfidf", "udf_pandas_scalar",
    "sim_cosine_centroid", "sim_topk_pairs", "dedup_ngram_jaccard",
    "ann_cosine_topk",
    # extras (bench.py EXTRAS)
    "dedup_minhash_pure", "text_vocab_topk", "curation_manifest_e2e",
    "snapshot_diff", "stats_ks_test", "sample_temperature",
    "pack_token_budget", "agg_winsorized_mean", "events_sessionize_gap",
    "join_interval_overlap",
]


def plan_stats(txt: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", txt)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", txt)),
        "smj": len(re.findall(r"SortMergeJoin", txt)),
        "bhj": len(re.findall(r"BroadcastHashJoin", txt)),
        "shj": len(re.findall(r"ShuffledHashJoin", txt)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", txt)),
        "python_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", txt)
        ),
        "sorts": len(re.findall(r"^\(\d+\) Sort\b", txt, re.M)),
        "window": len(re.findall(r"\bWindow\b", txt)),
    }


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    keys = sys.argv[2:] or BENCH_SET
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark = get_spark("opt-measure")
    qs = registry.queries()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warmup as bench.py does
    noop(qs["agg_pricing_summary"](spark, SF_DIR))
    noop(qs["udf_pandas_scalar"](spark, SF_DIR))

    out = {}
    for k in keys:
        df = qs[k](spark, SF_DIR)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        with open(os.path.join(PLANS_DIR, f"{k}_{tag}.txt"), "w") as fh:
            fh.write(txt)
        spark.sparkContext.setJobDescription(f"opt:{k}")
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            noop(qs[k](spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        out[k] = {"sec": round(best, 3), **plan_stats(txt)}
        print(f"{k}: {out[k]}", flush=True)
    with open(os.path.join(PLANS_DIR, f"timings_{tag}.json"), "w") as fh:
        json.dump({"sf_dir": SF_DIR, "reps": REPS, "keys": out}, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
