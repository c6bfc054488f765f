"""``registry_headline``: the 17 ``bench.py`` HEADLINE keys of the query
registry, each executed to the noop sink, over fixture tables this module
generates from the seed.

The generator follows the repository's fixture tables (FIXTURES.md)
column by column: row counts per scale factor, value domains and
distributions (word vocabulary and text lengths, near-duplicate and
duplicate documents, language mix, uniform foreign keys, exponential
event values, unit-norm Gaussian embeddings). ``fixture_compare.py``
runs the 17 keys on both and compares them key by key; README.md records
the result.

Every key is checked once per run, untimed, against its DuckDB oracle
(row count and an order-independent hash of canonical rows).
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bench import HEADLINE
from nfdump2clickhouse_spark import registry

from harness import Pass, Workload, job_group

_DAY_US = 86_400_000_000
#: the documents' vocabulary; a near-duplicate document appends "dup", the
#: fixture's 31st word
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
#: documents per language: "en" is the most common, the rest share the remainder
_LANGS, _LANG_P = ["de", "en", "es", "fr", "zh"], [0.14, 0.41, 0.15, 0.15, 0.15]


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(pool: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()),
                                          pa.array(pool)).cast(pa.string())


def generate_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten fixture tables at scale ``sf`` (sf 0.1 ≈ 600k lineitem rows),
    deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(segs, rng.integers(0, 5, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick([f"{a} {w}" for a in adjectives for w in nouns],
                            rng.integers(0, len(adjectives) * len(nouns), n_part)),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
            "p_type": _pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                            rng.integers(0, 6, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"], rng.integers(0, 5, n_ord))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
            "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
                           + np.datetime64("2024-01-01", "us").astype(np.int64),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(["click", "error", "purchase", "signup", "view"],
                                rng.integers(0, 5, n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": _pick([f'{{"k": {i}}}' for i in range(100)], rng.integers(0, 100, n_ev))}),
    }
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 101))) for _ in range(n_doc)]
    # one document in 20 is a near-duplicate (another's text plus "dup"),
    # one in 600 a verbatim duplicate of another
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i, j in rng.integers(0, n_doc, (max(1, n_doc // 600), 2)):
        texts[j] = texts[i]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(_LANGS, rng.choice(len(_LANGS), n_doc, p=_LANG_P)),
        "source": _pick([f"src{i}" for i in range(20)], np.arange(n_doc) % 20),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (float, np.floating)):
        return "∅" if math.isnan(v) else repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_digest(pdf: pd.DataFrame) -> tuple[int, str, tuple[str, ...]]:
    """(rows, hash of the sorted canonical rows, sorted column names)."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(tuple(_canon(v) for v in r)
                  for r in pdf[list(cols)].itertuples(index=False, name=None))
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest(), cols


class RegistryHeadline(Workload):
    """One pass = the 17 HEADLINE keys in order, each built and executed
    to the noop sink; ``headline_s`` is the pass's sum, as in bench.py."""

    def __init__(self, spark, work: str, seed: int, cores: int, tiny: bool,
                 inject: str | None, tables: str | None = None):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf = 0.002 if tiny else 0.03
        self.tables = tables  # an existing fixture directory instead of generated tables

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.data = self.tables or os.path.join(self.work, "tables")
        if self.tables is None:
            generate_tables(self.data, self.seed, self.sf)
        t1 = time.perf_counter()
        self.qs = registry.queries()
        oracle = registry.oracle_sql()
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{f}')")
        # warm-up and correctness together: every key collected once and
        # compared with its oracle, untimed; timing starts at the
        # process's second pass over the keys
        self.check_failed = 0
        self.rows: dict[str, int] = {}
        for key in HEADLINE:
            got = result_digest(self.qs[key](self.spark, self.data).toPandas())
            want = result_digest(con.execute(oracle[key]).df())
            self.check_failed += got != want
            self.rows[key] = got[0]
        con.close()
        self.setup_parts = {"inputs": t1 - t0, "check": time.perf_counter() - t1}

    def run_pass(self) -> Pass:
        p = Pass()
        build_s = 0.0
        p.begin()
        for key in HEADLINE:
            group = f"pb.op.{key}"
            job_group(self.spark, group)
            try:
                t0 = time.perf_counter()
                df = self.qs[key](self.spark, self.data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            finally:
                job_group(self.spark, None)
            build_s += t1 - t0
            p.ops[key] = t2 - t0
            p.extra[f"ms.{key}"] = 1000.0 * (t2 - t0)
            p.attempted += 1
        p.end()
        p.extra["build_ms"] = 1000.0 * build_s
        p.wall_s = sum(p.extra[f"ms.{k}"] for k in HEADLINE) / 1000.0
        p.sample("headline_s", p.wall_s)
        return p

    def finish(self) -> tuple[int, int]:
        return len(HEADLINE), self.check_failed

    def layers(self, log, passes, batches) -> dict[str, float]:
        n = max(1, len(passes))
        out = {"registry.build_ms": sum(p.extra["build_ms"] for p in passes) / n}
        for key in HEADLINE:
            jobs = [j for j, g in log.job_group.items() if g == f"pb.op.{key}"]
            t = log.totals(jobs)
            out[f"operators.{key}.ms"] = sum(p.extra[f"ms.{key}"] for p in passes) / n
            out[f"operators.{key}.jobs"] = len(jobs) / n
            out[f"operators.{key}.cpu_ms"] = t.cpu_ms / n
            out[f"operators.{key}.shuffle_bytes"] = (t.shuffle_write_bytes
                                                     + t.shuffle_read_bytes) / n
        return out

