from __future__ import annotations

import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nfdump2clickhouse_spark.duckdb_compat import pin_float_semantics  # noqa: E402
from nfdump2clickhouse_spark.pbcompat import ensure_protobuf  # noqa: E402
from nfdump2clickhouse_spark.session import get_spark  # noqa: E402

# before any SparkSession exists: workers of JVMs launched later inherit
# the PYTHONPATH this sets, which is what lets the real
# transformWithStateInPandas path run (see pbcompat docstring)
ensure_protobuf()

_TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")
SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", os.path.join(_TESTDATA_ROOT, "sf0.01")
)
# the two OTHER scale factors for the cross-SF sweeps (ADVICE r2: derive
# from the root override instead of hardcoding, so the suite can point at
# relocated fixtures)
CROSS_SF_DIRS = [
    os.path.join(_TESTDATA_ROOT, "sf0.001"),
    os.path.join(_TESTDATA_ROOT, "sf0.1"),
]
SMALL_SF_DIR = os.path.join(_TESTDATA_ROOT, "sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session", autouse=True)
def _session_tempdir(tmp_path_factory):
    """Point `tempfile`'s default directory at a dir under pytest's
    basetemp for the session. Registry keys and the streaming demos make
    `mkdtemp` dirs that nothing removes; under the basetemp, pytest's
    retention of the last few runs bounds them."""
    before = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("mkdtemp"))
    yield
    tempfile.tempdir = before


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spark-flows-tests", master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    pin_float_semantics(con)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# --- suite tiering (VERDICT r11 next-#1) -------------------------------------
# The default tier must finish well inside the driver's verify window;
# the r11 driver run truncated mid-suite (tests_ok:false with zero
# failures shown) because the flat suite outgrew it. Everything below
# is marked `slow` and runs via `-m slow`; the default tier keeps the
# complete sf0.01 oracle core (test_query_vs_oracle, all 465 keys),
# edge/degenerate + nullmix parity, enforcement, format, streaming and
# service tests. Timings are from the full r12 run (7,292 s total,
# contended box; per-function call-time aggregates):
_SLOW_TESTS = {
    # cross-SF re-sweep: test_oracle_keys_across_sfs re-checks every
    # oracle key at sf0.001 and sf0.1 (768 cases) — the driver
    # oracle-checks those SFs itself, and every key keeps its sf0.01
    # oracle test in the default tier. Measured on a 4-CPU, 16 GB host:
    # 111 s for the 384 sf0.001 cases, 394 s for 383 of the sf0.1 ones.
    # The graph_label_propagation-sf0.1 case does not finish there: its
    # oracle's CTEs, inlined by DuckDB, exhaust RAM (or, under a memory
    # limit, 20 GB of spill disk); it measured 2,759 s on a larger box.
    # (matched by the "_across_sfs" suffix rule below)
    #
    # full-registry plan sweep: builds all 465 plans (159 s)
    "test_no_unpartitioned_windows_full_registry",
    # scale-rehearsal contracts >= ~20 s: internal-equivalence /
    # large-volume rehearsals, not oracle or edge coverage
    "test_ivfpq_recall_contract",                        # 70 s
    "test_exact_ntile_equals_window_ntile",              # 31 s (4 cores;
    #   binned_exact_ntile: 9 (n, k) shapes x 8 bound cases)
    "test_pacf_and_cusum_survive_large_daily_volume",    # 46 s
    "test_semantic_dedup_contracts",                     # 31 s
    "test_provenance_split_reconciles",                  # 27 s
    "test_scaled_e6_statistics_survive_multimillion_counts",  # 24 s
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.name.split("[")[0]
        if base in _SLOW_TESTS or base.endswith("_across_sfs"):
            item.add_marker(pytest.mark.slow)
