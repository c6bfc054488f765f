"""The benchmark's own smoke test, at tiny input sizes:

    python3 -m pytest perfbench/test_smoke.py -q

Each workload, run traced, prints every end-to-end metric of its
workload with a unit and every per-layer metric BENCHMARK.json names, and
reads error_rate 0. A rotation_cycle run long enough for 20 rotations
reports rotation_visible_ms_p50 as a number. An injected truncated or
dropped capture makes error_rate > 0 and the result incorrect.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the end-to-end metrics each workload prints in its report lines
REPORTED = {
    "nffile_backlog": ["setup_s", "ingest_rows_per_s", "pass_s", "best_pass_s", "cpu_s",
                       "best_pass_cpu_s", "peak_rss_mb", "stored_bytes_per_row", "error_rate"],
    "rotation_cycle": ["setup_s", "ingest_rows_per_s", "rotation_visible_ms_p50",
                       "rotation_visible_ms_p90", "query_ms_p50", "query_ms_p90", "pass_s",
                       "best_pass_s", "cpu_s", "best_pass_cpu_s", "peak_rss_mb",
                       "stored_bytes_per_row", "error_rate"],
    "registry_headline": ["setup_s", "headline_s", "pass_s", "best_pass_s", "cpu_s",
                          "best_pass_cpu_s", "peak_rss_mb", "error_rate"],
}


def _run(workload: str, *extra: str, seconds: int = 1) -> tuple[dict[str, list[str]], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "2",
         "--seconds", str(seconds), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    lines = {ln.split()[0]: ln.split()[1:] for ln in out[:-1] if ln and not ln.startswith("#")}
    return lines, json.loads(out[-1])


@pytest.mark.parametrize("workload", sorted(REPORTED))
def test_traced_run_prints_every_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = {m["name"] for m in json.load(fh)["per_layer"]}
    lines, result = _run(workload, "--trace", "1")
    for name in REPORTED[workload]:
        assert len(lines.get(name, [])) >= 2, f"{name} missing or without a unit"
    assert lines["error_rate"][0] == "0"
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == per_layer
    assert all(m["unit"] for m in result["metrics"].values())


@pytest.mark.parametrize("workload,fault", [("nffile_backlog", "truncate"),
                                            ("rotation_cycle", "drop")])
def test_injected_fault_is_counted(workload, fault):
    lines, result = _run(workload, "--trace", "0", "--inject", fault)
    assert float(lines["error_rate"][0]) > 0
    assert not result["correct"] and result["failed"] > 0


def test_long_rotation_run_reports_percentiles():
    lines, result = _run("rotation_cycle", "--trace", "0", seconds=100)
    assert result["correct"]
    for name, q in (("rotation_visible_ms_p50", 0.5), ("rotation_visible_ms_p90", 0.9),
                    ("query_ms_p50", 0.5), ("query_ms_p90", 0.9)):
        value, _unit, n = lines[name]
        n = int(n.strip("(n=)"))
        # a percentile is a number exactly when ten samples lie beyond it
        assert (value != "n/a") == (n * (1 - q) >= 10), (name, value, n)
    assert int(lines["rotation_visible_ms_p50"][2].strip("(n=)")) >= 20
    float(lines["rotation_visible_ms_p50"][0])
