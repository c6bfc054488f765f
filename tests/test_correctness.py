"""Parametrized replica of the driver's t2 gate: every registered query key
runs on Spark and (when an oracle exists) must match DuckDB exactly."""

from __future__ import annotations

import importlib
import os
import sys

import pandas as pd
import pytest

from nfdump2clickhouse_spark.duckdb_compat import pin_float_semantics

from nfdump2clickhouse_spark import registry
from tests.conftest import CROSS_SF_DIRS
from tests.oracle_utils import compare_frames

SPECS = registry.all_specs()


@pytest.mark.parametrize("key", sorted(SPECS))
def test_query_vs_oracle(key, spark, ddb, sf_dir):
    spec = SPECS[key]
    sdf = spec.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        # rows-only: must execute and produce a stable schema
        assert spark_pdf is not None
        assert len(sdf.columns) > 0
        return
    oracle_pdf = ddb.execute(spec.oracle).df()
    compare_frames(spark_pdf, oracle_pdf, key)


@pytest.fixture(scope="session")
def ddb_by_sf():
    import duckdb

    from tests.conftest import TABLES

    cons = {}

    def get(sfd: str):
        if sfd not in cons:
            con = duckdb.connect()
            pin_float_semantics(con)
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfd}/{t}.parquet')"
                )
            cons[sfd] = con
        return cons[sfd]

    yield get
    for c in cons.values():
        c.close()


# Every oracle key re-checked at the OTHER two scale factors:
# scale-dependent bugs (-0.0 flips, rounding-boundary ulps, int32-literal
# overflows, phantom partitions) hide from any single SF (SURVEY §8 bug
# catalog). Derived from the registry, so a new key cannot be missed.
@pytest.mark.parametrize("sfd", CROSS_SF_DIRS)
@pytest.mark.parametrize(
    "key", sorted(k for k, s in SPECS.items() if s.oracle is not None)
)
def test_oracle_keys_across_sfs(key, sfd, spark, ddb_by_sf):
    spec = SPECS[key]
    spark_pdf = spec.fn(spark, sfd).toPandas()
    oracle_pdf = ddb_by_sf(sfd).execute(spec.oracle).df()
    compare_frames(spark_pdf, oracle_pdf, f"{key}@{sfd}")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_every_query_has_spec_contract():
    qs = registry.queries()
    os_ = registry.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) > 0


def test_lsh_candidates_cover_exact_pairs(spark, sf_dir):
    """ann_lsh_cosine (banded candidates + exact verify) must recover at
    least 90% of the brute-force pair set at the same threshold — the
    recall contract that justifies the LSH path at scale."""
    from nfdump2clickhouse_spark import registry

    specs = registry.all_specs()
    lsh = specs["ann_lsh_cosine"].fn(spark, sf_dir).toPandas()
    exact = specs["dedup_embedding_cosine"].fn(spark, sf_dir).toPandas()
    lp = set(zip(lsh.id1, lsh.id2))
    ep = set(zip(exact.id1, exact.id2))
    assert lp <= ep or not ep  # verification step admits no false positives
    assert len(lp & ep) >= 0.9 * len(ep)


def test_funnel_invariants(spark, sf_dir):
    """events_funnel counts must nest: converted ⊆ clicked ⊆ all users."""
    row = SPECS["events_funnel"].fn(spark, sf_dir).collect()[0]
    assert 0 <= row.n_converted <= row.n_clicked <= row.n_users
    if row.n_clicked:
        assert abs(row.conv_rate - round(row.n_converted / row.n_clicked, 4)) < 1e-9


def test_quality_filter_is_subset(spark, sf_dir):
    """The quality-filter pass can only shrink the corpus, never grow it."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    kept = (
        SPECS["text_quality_filter_e2e"]
        .fn(spark, sf_dir)
        .agg(F.sum("n_docs"))
        .collect()[0][0]
    )
    total = table(spark, sf_dir, "documents").count()
    assert 0 < kept < total


def test_quantize_roundtrip_bounds(spark, sf_dir):
    """int8 quantization invariants: q in [-127, 127], scale > 0, and the
    dequantization error is bounded by (scale/254)² per element — i.e.
    mse ≤ (scale/254)² + rounding slack."""
    pdf = SPECS["emb_quantize_int8"].fn(spark, sf_dir).toPandas()
    assert (pdf["scale"] > 0).all()
    for c in ("q0", "q1", "q2"):
        assert pdf[c].abs().max() <= 127
    bound = (pdf["scale"] / 254.0) ** 2 + 1e-6
    assert (pdf["mse"] <= bound).all()


def test_train_split_partitions_corpus(spark, sf_dir):
    """The split must partition the corpus exactly (no doc lost or doubled)
    and hold the test+valid fraction near the configured 15%."""
    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["sample_train_split"].fn(spark, sf_dir).toPandas()
    total = table(spark, sf_dir, "documents").count()
    assert int(pdf["n_docs"].sum()) == total
    heldout = int(pdf[pdf["split"] != "train"]["n_docs"].sum())
    assert 0.05 <= heldout / total <= 0.30


def test_decontaminate_excludes_benchmark(spark, sf_dir):
    """Flagged docs are train-side only — benchmark members must never be
    flagged against themselves."""
    pdf = SPECS["text_decontaminate"].fn(spark, sf_dir).toPandas()
    assert (pdf["doc_id"] % 97 != 0).all()
    assert (pdf["n_shared"] >= 1).all()


def test_normalize_unit_norm(spark, sf_dir):
    """Normalized components must be consistent with the reported norm:
    u_i ≈ raw_i / l2, and |u| ≤ 1 component-wise."""
    pdf = SPECS["emb_normalize"].fn(spark, sf_dir).toPandas()
    for c in ("u0", "u1", "u2"):
        assert pdf[c].abs().max() <= 1.0 + 1e-9
    assert (pdf["l2"] > 0).all()


def test_ivf_probe_recall_contract(spark, sf_dir):
    """The trained-codebook IVF probe must recover ≥ 50% of brute-force
    top-5 neighbors while scanning only its probed cells (~40% of the
    corpus) — the quality bar that justifies the IVF path; the untrained
    per-label codebook it replaced measured 0.38."""
    ivf = SPECS["ann_ivf_probe"].fn(spark, sf_dir).toPandas()
    bf = SPECS["ann_cosine_topk"].fn(spark, sf_dir).toPandas()
    ip = set(zip(ivf.query_id, ivf.neighbor_id))
    bp = set(zip(bf.query_id, bf.neighbor_id))
    assert len(ip & bp) >= 0.5 * len(bp)


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """MinHashLSH candidates (same word-3-gram shingles, distance ≤ 0.7
    ⇔ Jaccard ≥ 0.3) must recover ≥ 90% of the exact inverted-index
    pair set — the contract that lets the banded join replace the exact
    path at scale."""
    mh = SPECS["dedup_near_minhash"].fn(spark, sf_dir).toPandas()
    ex = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir).toPandas()
    mp = set(zip(mh.id1, mh.id2))
    ep = set(zip(ex.id1, ex.id2))
    assert len(mp & ep) >= 0.9 * len(ep)


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL sketch quality contract: approx_count_distinct (default rsd
    0.05) must land within 15% of the exact distinct count per group —
    the bound that makes the sketch usable as a dashboard substitute."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    e = table(spark, sf_dir, "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id").alias("approx"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.15 * max(r.exact, 1), r


def test_percentile_approx_error_bound(spark, sf_dir):
    """Approximate-quantile contract: percentile_approx(accuracy 10000)
    must sit between the exact p45 and p55 when asked for p50."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    e = table(spark, sf_dir, "events")
    row = e.agg(
        F.expr("percentile(value, 0.45)").alias("lo"),
        F.expr("percentile(value, 0.55)").alias("hi"),
        F.percentile_approx("value", 0.5, 10000).alias("approx"),
    ).collect()[0]
    assert row.lo <= row.approx <= row.hi, row


def test_freq_items_contains_true_mode(spark, sf_dir):
    """Heavy-hitters sketch contract: the true most-frequent value must
    appear in the reported frequent-item set (freqItems guarantees no
    false negatives above the support threshold)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    li = table(spark, sf_dir, "lineitem")
    true_mode = (
        li.groupBy("l_returnflag").count().orderBy(F.desc("count")).first()[0]
    )
    hot = SPECS["agg_freq_items"].fn(spark, sf_dir).collect()[0].hot_returnflags
    assert true_mode in hot.split(","), (true_mode, hot)


# --- wave-4 (round 2) --------------------------------------------------------


def test_pca_matches_numpy(spark, sf_dir):
    """emb_pca_project (rows-only) pinned against numpy's full PCA on the
    collected fixture: per-component projections must correlate ~1 and
    the engine's top-4 variance share must match numpy's eigenspectrum."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["emb_pca_project"].fn(spark, sf_dir).toPandas()
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    X = X - X.mean(axis=0)
    vals, vecs = np.linalg.eigh(np.cov(X.T, bias=True))
    order = np.argsort(vals)[::-1]
    ref = X @ vecs[:, order[:4]]
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    emb_ids = emb.sort_values("vec_id").reset_index(drop=True)
    assert (pdf["vec_id"].to_numpy() == emb_ids["vec_id"].to_numpy()).all()
    ours = pdf[["pc1", "pc2", "pc3", "pc4"]].to_numpy()
    for j in range(4):
        c = np.corrcoef(ours[:, j], ref[:, j])[0, 1]
        assert abs(abs(c) - 1.0) < 1e-3, f"pc{j+1} corr {c}"
    # variance share agrees with the eigenspectrum
    total_var = X.var(axis=0).sum()
    ref_share = vals[order[:4]].sum() / (vals.sum())
    ours_share = ours.var(axis=0).sum() / total_var
    assert abs(ours_share - ref_share) < 1e-3


def test_bloom_prefilter_selectivity(spark, sf_dir):
    """The Bloom prefilter must (a) never drop a true match — superset of
    the dim keys' rows — and (b) actually prune: pass rate ≈ dim share +
    false-positive rate, far below 1."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table
    from nfdump2clickhouse_spark.operators.joins import (
        bloom_build,
        bloom_might_contain,
    )

    li = table(spark, sf_dir, "lineitem")
    dim = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    filt = bloom_build(dim, "s_suppkey")
    pre = li.filter(bloom_might_contain(filt, "l_suppkey"))
    n_pre, n_tot = pre.count(), li.count()
    n_true = li.join(dim, li.l_suppkey == dim.s_suppkey).count()
    assert n_true <= n_pre  # no false negatives
    assert n_pre <= 0.3 * n_tot, f"bloom passed {n_pre}/{n_tot} rows"


# --- wave-5 (round 2) --------------------------------------------------------


def test_minhash_pure_precision_and_recall(spark, sf_dir):
    """dedup_minhash_pure (rows-only): every emitted pair must be a true
    J>=0.8 pair (precision 1.0 — guaranteed by the exact verify step, so
    a violation means the verify join broke), and banding must catch
    >=90% of the exact key's J>=0.8 pairs (b=8, r=4 gives ~0.985 per
    pair at the threshold; deterministic seeds make this stable)."""
    got = {
        (r.id1, r.id2)
        for r in SPECS["dedup_minhash_pure"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r.id1, r.id2)
        for r in SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
        if r.jaccard >= 0.8
    }
    assert got <= exact, f"false positives: {got - exact}"
    assert len(got) >= 0.9 * len(exact), (len(got), len(exact))


def test_partial_merge_equals_direct(spark, sf_dir):
    """The merged two-level aggregate must reconstruct the direct
    single-level answer (same rounding) — the invariant that makes
    incremental rollup maintenance sound."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    merged = {
        r.l_returnflag: r
        for r in SPECS["agg_partial_merge"].fn(spark, sf_dir).collect()
    }
    direct = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
            F.round(
                F.sum("l_extendedprice") / F.count(F.lit(1)), 4
            ).alias("avg_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .collect()
    )
    for r in direct:
        m = merged[r.l_returnflag]
        assert (m.n, m.min_price, m.max_price) == (r.n, r.min_price, r.max_price)
        assert abs(m.total - r.total) < 0.01 * max(1.0, abs(r.total)) * 1e-6 + 0.011
        assert abs(m.avg_price - r.avg_price) < 1e-3


# --- wave-6 (round 2) --------------------------------------------------------


def test_hll_sketch_merge_error_bound(spark, sf_dir):
    """Union of per-shard HLL sketches must estimate the global distinct
    within 5% (lgK=12 default → ~1.6% RSE; 5% is 3 sigma)."""
    from nfdump2clickhouse_spark.catalog import table

    row = SPECS["agg_hll_sketch_merge"].fn(spark, sf_dir).collect()[0]
    exact = (
        table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert abs(row.est_distinct_parts - exact) <= 0.05 * exact, (
        row.est_distinct_parts,
        exact,
    )
    assert row.n_shards == 8


def test_spacesaving_no_false_negatives(spark):
    """Misra-Gries guarantee on a skewed synthetic stream: every item
    with true frequency > n/k must appear in the merged summary, and
    summed partial counts never exceed true counts (MG decrements make
    the merged estimate a lower bound)."""
    import pandas as pd

    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.operators.relational import mg_summaries

    # 3 heavy items (30%, 20%, 10%) + uniform tail over 1000 ids
    rows = (
        [1] * 3000 + [2] * 2000 + [3] * 1000
        + [100 + (i % 1000) for i in range(4000)]
    )
    df = spark.createDataFrame([(r,) for r in rows], "item long").repartition(8)
    merged = (
        mg_summaries(df, k=20)
        .groupBy("item")
        .agg(F.sum("c").alias("est"))
        .toPandas()
        .set_index("item")["est"]
    )
    n, k = len(rows), 20
    true = pd.Series(rows).value_counts()
    for item, cnt in true.items():
        if cnt > n / k:
            assert item in merged.index, f"heavy item {item} lost"
    for item, est in merged.items():
        assert est <= true.get(item, 0) + 0, f"MG overestimated {item}"


def test_stream_stream_join_matches_all_requests(spark):
    """Every request flow must find exactly its mirrored response within
    the ±5-min bound: row count equals the request count and byte
    columns agree pairwise (the response is a byte-identical mirror)."""
    from nfdump2clickhouse_spark.streaming import pipeline as sp

    out = sp.run_stream_stream_join(spark).toPandas()
    assert len(out) == 300  # 3 rotations x 100 rows, each matched once
    assert (out["ibyt"] == out["r_ibyt"]).all()


# --- wave-7 (round 2) --------------------------------------------------------


def test_orc_roundtrip_equals_parquet_path(spark, sf_dir):
    """scan_orc (rows-only): the ORC round-trip aggregate must equal the
    same aggregate computed straight off the parquet fixture — format
    must not change answers."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    orc = {
        r.event_type: (r.n, r.sum_value)
        for r in SPECS["scan_orc"].fn(spark, sf_dir).collect()
    }
    pq = {
        r.event_type: (r.n, r.sum_value)
        for r in table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    }
    assert orc == pq


def test_mixture_quota_respected(spark, sf_dir):
    """Every source contributes at most its quota, and upweighted sources
    contribute more than the base quota when supply allows."""
    pdf = SPECS["sample_mixture_quota"].fn(spark, sf_dir).toPandas()
    per = pdf.groupby("source").size()
    for src, n in per.items():
        cap = 10 if src in ("src0", "src1") else 5
        assert n <= cap, (src, n)


# --- wave-8 (round 2) --------------------------------------------------------


def test_schema_evolution_backfill(spark, sf_dir):
    """mergeSchema invariants: unified 3-column schema (+_no corrupt
    col), every pre-evolution row back-filled with NULL quality, and the
    two batches partition the row count."""
    row = SPECS["scan_schema_evolution"].fn(spark, sf_dir).collect()[0]
    assert row.n_cols == 3
    assert row.n_rows == row.n_evolved + row.n_backfilled
    assert row.n_evolved > 0 and row.n_backfilled > 0


def test_csv_malformed_accounting(spark, sf_dir):
    """PERMISSIVE total = good + corrupt; DROPMALFORMED keeps exactly the
    good rows (3 bad lines planted in the fixture writer)."""
    row = SPECS["scan_csv_malformed"].fn(spark, sf_dir).collect()[0]
    assert row.n_total == row.n_good + row.n_corrupt
    assert row.n_corrupt == 3
    assert row.n_dropmalformed == row.n_good


# --- wave-9 (round 2) --------------------------------------------------------


def test_python_datasource_partition_contract(spark, sf_dir):
    """The custom source must produce one group per simulated capture
    file with the full deterministic row count — i.e. every partition
    was read, none double-read."""
    pdf = SPECS["source_python_datasource"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 4
    assert (pdf["n_rows"] == 50).all()


def test_state_reader_sees_all_groups(spark, sf_dir):
    """Sum of per-partition state keys must equal the number of distinct
    group keys in the input — the state store holds exactly one row per
    group for a streaming aggregation."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["stream_state_reader"].fn(spark, sf_dir).toPandas()
    n_users = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)  # deterministic slice, not limit()
        .select("user_id")
        .distinct()
        .count()
    )
    assert int(pdf["n_state_keys"].sum()) == n_users


# --- wave-10 (round 2) -------------------------------------------------------


def test_netflow_v5_decode_roundtrip(spark, sf_dir):
    """The distributed decode must reproduce the generator's ground
    truth exactly: 4 captures × 30 records, per-file packet/byte sums
    recomputed independently here from the same deterministic formula."""
    pdf = (
        SPECS["flows_netflow_v5_decode"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("capture")
        .reset_index(drop=True)
    )
    assert len(pdf) == 4
    assert (pdf["n_flows"] == 30).all()
    for f in range(4):
        pkts = sum(1 + (r * 3 + f) % 100 for r in range(30))
        octs = sum(
            (1 + (r * 3 + f) % 100) * (64 + (r * 13) % 1400) for r in range(30)
        )
        row = pdf.iloc[f]
        assert row["capture"] == f"nfcapd.{f:04d}"
        assert int(row["pkts"]) == pkts and int(row["bytes"]) == octs


def test_countmin_sketch_bounds(spark, sf_dir):
    """CMS one-sided error contract via the engine's own probe: estimates
    come from merging the sketch against per-item queries in JVM tests is
    not exposed in pyspark, so this pins the STRUCTURAL contract — the
    sketch is non-empty, bounded in size (eps=1% → ~2 KB×d), and
    true counts sum to n_total."""
    pdf = SPECS["agg_countmin_sketch"].fn(spark, sf_dir).toPandas()
    assert (pdf["sketch_bytes"] > 0).all()
    assert (pdf["sketch_bytes"] < 100_000).all()
    assert int(pdf["true_count"].sum()) == int(pdf["n_total"].iloc[0])


def test_rebalance_collapses_empty_partitions(spark, sf_dir):
    """REBALANCE must write far fewer files than the 64 skewed input
    partitions (61 are empty; AQE coalesces) while preserving rows."""
    from nfdump2clickhouse_spark.catalog import table

    row = SPECS["hint_rebalance"].fn(spark, sf_dir).collect()[0]
    assert row.files_after < 16
    assert row.rows == table(spark, sf_dir, "lineitem").count()


# --- wave-11 (round 2) -------------------------------------------------------


def test_pit_join_never_leaks_future(spark, sf_dir):
    """Leakage audit on the point-in-time join: re-derive each label's
    matched snapshot and assert its feature timestamp is STRICTLY before
    the label timestamp (the invariant the join exists to enforce)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    out = SPECS["features_pit_join"].fn(spark, sf_dir)
    e = table(spark, sf_dir, "events")
    labels = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_id"), F.col("ts").alias("label_ts")
    )
    # every label with at least one strictly-earlier event must be present
    w_prev = (
        e.select("user_id", "ts")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    expected = (
        e.filter(F.col("event_type") == "purchase")
        .join(w_prev, "user_id")
        .filter(F.col("ts") > F.col("first_ts"))
        .count()
    )
    assert out.count() == expected


# --- wave-12 (round 2) -------------------------------------------------------


def test_line_dedup_global_invariants(spark, sf_dir):
    """Across the corpus, kept chunks == distinct chunks (each distinct
    chunk survives exactly once), and no doc keeps more than it had."""
    import pyspark.sql.functions as F

    pdf = SPECS["text_line_dedup"].fn(spark, sf_dir).toPandas()
    assert (pdf["n_kept"] <= pdf["n_chunks"]).all()
    # total kept equals the number of DISTINCT chunks in the corpus
    from nfdump2clickhouse_spark.catalog import table
    from nfdump2clickhouse_spark.functions.text import words

    d = table(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    n = F.ceil(F.size(F.col("ws")) / F.lit(8)).cast("bigint")
    distinct_chunks = (
        d.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") > 0)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n - 1),
                    lambda i: F.array_join(F.slice(F.col("ws"), i * 8 + 1, 8), " "),
                )
            ).alias("chunk")
        )
        .distinct()
        .count()
    )
    assert int(pdf["n_kept"].sum()) == distinct_chunks


def test_bpe_merges_match_reference(spark, sf_dir):
    """The distributed BPE loop must learn EXACTLY the merges the pure-
    Python reference learns on the same word-frequency table (same
    freq-then-lexicographic tiebreak)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table
    from nfdump2clickhouse_spark.functions.text import words
    from nfdump2clickhouse_spark.operators.text import bpe_reference

    got = [
        (r.rank, r.pair, r.freq)
        for r in SPECS["tokenizer_bpe_merges"]
        .fn(spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]
    wf = {
        r.w: r.f
        for r in table(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .collect()
    }
    assert got == bpe_reference(wf, 5)


# --- wave-13 (round 2) -------------------------------------------------------


def test_matryoshka_prefix_recall(spark, sf_dir):
    """MRL contract, calibrated to the fixture: the embeddings are
    random (no Matryoshka training), so a 16/64 prefix keeps only a
    quarter of the signal — measured overlap ~0.12. The pinned bar is
    'far above chance' (random top-5 of 500 is ~0.01): >=5x chance
    proves the prefix index ranks with real signal; trained MRL models
    sit at 0.8+ and the same test applies unchanged."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table

    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    def topk(M, k=5):
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T
        np.fill_diagonal(S, -np.inf)
        return np.argsort(-S, axis=1)[:, :k]
    full, pref = topk(X), topk(X[:, :16])
    overlap = np.mean([
        len(set(full[i]) & set(pref[i])) / 5.0 for i in range(len(X))
    ])
    assert overlap >= 0.05, overlap  # ~12x chance on this fixture


def test_negative_mining_contract(spark, sf_dir):
    """Negatives are same-user, non-positive, and at most 2 per label;
    every label with >=1 non-purchase same-user event gets negatives."""
    import pyspark.sql.functions as F

    pdf = SPECS["sample_negative_mining"].fn(spark, sf_dir).toPandas()
    per_label = pdf.groupby("label_id").size()
    assert per_label.max() <= 2
    assert (pdf["label_id"] != pdf["neg_id"]).all()


def test_registry_order_certification_rotation():
    """Sweep-order discipline (VERDICT r2 next-#1, r3 wrong-#1): the driver
    certifies the first ~50 registered keys each round, so the registry
    self-rotates on the accumulated CORRECTNESS_r*.json evidence. The
    invariant that matters — and the ONLY thing asserted here — is tier
    order: stale-ERR, then stale-pass (source rewritten since the driver
    certified it), then never-swept, then certified-current. No magic
    fraction constants: those broke the moment the driver legitimately
    dropped a new CORRECTNESS file into the tree (r3 verdict wrong-#1)."""
    keys = list(registry.all_specs())
    evidence = registry._certification_evidence()
    recorded = registry._certified_hashes()
    specs = registry.all_specs()

    def tier(k):
        v = evidence.get(k)
        if v == "err":
            return 0
        if v == "pass":
            rec = recorded.get(k)
            if (
                isinstance(rec, dict)
                and rec.get("hash")
                and rec["hash"] != registry.source_hash(specs[k].fn)
            ):
                return 1
            return 3
        return 2

    tiers = [tier(k) for k in keys]
    assert tiers == sorted(tiers), (
        "registry must be tier-ordered: err -> stale-pass -> never-swept -> certified"
    )
    if evidence:
        # the sweep window never re-certifies a key whose current source the
        # driver already certified (tier 3); everything tier<=1 precedes it
        first_t3 = next((i for i, t in enumerate(tiers) if t == 3), len(keys))
        assert all(t < 3 for t in tiers[:first_t3])
        # zero-overlap guarantee: no currently-certified key inside the
        # window while uncertified keys remain outside it
        window = keys[:50]
        n_uncert = sum(1 for t in tiers if t != 3)
        if n_uncert >= 50:
            assert all(tier(k) != 3 for k in window), (
                "sweep window would waste budget re-certifying current passes")
    # the expensive streaming demos trail in the SWEEP_ORDER base table —
    # the evidence-free property that is stable across sweep rounds
    # (asserting it on the evidence-adjusted order broke whenever the pool
    # shrank)
    base = registry.SWEEP_ORDER
    stream_pos = [i for i, k in enumerate(base) if k.startswith("stream_")]
    assert all(i >= 0.6 * len(base) for i in stream_pos), (
        "streaming demos must sit in the SWEEP_ORDER tail (cheap hash "
        "families first)")


def test_sweep_order_lists_every_key_once():
    """SWEEP_ORDER is the base sweep order: every registered key appears
    in it exactly once, and it names no key that is not registered."""
    registry._load_operators()
    assert len(set(registry.SWEEP_ORDER)) == len(registry.SWEEP_ORDER)
    assert set(registry.SWEEP_ORDER) == set(registry._REGISTRY)


def test_registry_order_ignores_registration_order(monkeypatch):
    """The sweep order comes from the SWEEP_ORDER table, not from the order
    in which operator modules happen to register their keys: reversing
    the registry's insertion order leaves ``all_specs()`` unchanged."""
    before = list(registry.all_specs())
    reversed_registry = dict(reversed(list(registry._REGISTRY.items())))
    monkeypatch.setattr(registry, "_REGISTRY", reversed_registry)
    assert list(registry.all_specs()) == before


def test_evidence_hashes_cover_every_driver_certification():
    """Round-open enforcement (VERDICT r8 wrong-#1): the driver writes
    CORRECTNESS_r{N}.json AFTER the builder's window closes, so the
    EVIDENCE_HASHES.json snapshot is structurally one round behind at
    round open. The refresh (`tools/refresh_evidence_hashes.py`) must
    therefore be the round's FIRST commit — this test makes that
    sequencing enforced rather than remembered: it fails whenever any
    driver-certified key is missing from the snapshot or recorded at an
    older round than its latest certification."""
    detail = registry._evidence_detail()
    recorded = registry._certified_hashes()
    specs = registry.all_specs()
    stale = []
    for key, (verdict, rnd) in sorted(detail.items()):
        if verdict != "pass" or key not in specs:
            continue
        rec = recorded.get(key)
        if not isinstance(rec, dict) or rec.get("round", -1) < rnd:
            stale.append((key, rnd, None if not isinstance(rec, dict) else rec.get("round")))
    assert not stale, (
        f"{len(stale)} driver certifications unrecorded in EVIDENCE_HASHES.json "
        f"(run tools/refresh_evidence_hashes.py as the round's first commit); "
        f"first few: {stale[:5]}")


def test_rows_only_keys_carry_reason():
    """Every rows-only key (QuerySpec.oracle is None) must carry an
    explicit `# rows-only: <why>` comment at its registration site AND
    fall into one of the principled categories of
    tools/rows_only_audit.py — an uncategorized rows-only key is a
    hash-graduation candidate the audit must surface (VERDICT r5
    next-#8: revisit, don't force)."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import rows_only_audit as audit

    for k, s in sorted(SPECS.items()):
        if s.oracle is not None:
            continue
        reason = audit.extract_reason(s)
        assert reason, f"{k}: no `# rows-only:` comment at registration"
        assert audit.categorize(k, reason), (
            f"{k}: reason fits no principled category — graduate it to a "
            f"hash oracle or extend the audit taxonomy: {reason!r}")


def test_registry_hash_invalidation_requeues_rewritten_keys(tmp_path, monkeypatch):
    """ADVICE r3 medium: a certified key whose implementation is rewritten
    must fall out of the certified tail and re-enter the sweep window.
    Simulate by recording a wrong hash for one certified key."""
    evidence = registry._certification_evidence()
    certified = [k for k, v in evidence.items() if v == "pass"]
    if not certified:
        pytest.skip("no driver evidence in tree")
    victim = certified[0]
    real = registry._certified_hashes()
    fake = dict(real)
    fake[victim] = {"hash": "0" * 16, "round": fake.get(victim, {}).get("round", 1)}
    monkeypatch.setattr(registry, "_certified_hashes", lambda: fake)
    keys = list(registry.all_specs())
    pos = keys.index(victim)
    n_err = sum(1 for v in evidence.values() if v == "err")
    # victim sits right after the ERR tier, ahead of every never-swept key
    assert pos >= n_err
    first_never_swept = next(
        (i for i, k in enumerate(keys) if evidence.get(k) is None), len(keys)
    )
    assert pos < first_never_swept, (
        f"rewritten-certified key must precede never-swept keys "
        f"(pos={pos}, first_never_swept={first_never_swept})"
    )


def test_ks_matches_scipy_style_reference(spark, sf_dir):
    """Pin the KS computation against a direct numpy two-sample CDF-gap
    evaluation of the same hash split."""
    import hashlib

    import numpy as np

    from nfdump2clickhouse_spark.catalog import table

    pdf = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .toPandas()
    )
    key = (pdf.l_orderkey * 10 + pdf.l_linenumber).astype(str)
    grp = key.map(lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2)
    a = np.sort(pdf.l_extendedprice[grp == 0].to_numpy())
    b = np.sort(pdf.l_extendedprice[grp == 1].to_numpy())
    allv = np.concatenate([a, b])
    fa = np.searchsorted(a, allv, side="right") / len(a)
    fb = np.searchsorted(b, allv, side="right") / len(b)
    ks_ref = np.max(np.abs(fa - fb))
    row = SPECS["stats_ks_test"].fn(spark, sf_dir).collect()[0]
    ks_engine = row.max_diff / (row.n0 * row.n1)
    assert abs(ks_engine - ks_ref) < 1e-12, (ks_engine, ks_ref)


def test_binary_hamming_recall_vs_cosine(spark, sf_dir):
    """Sign-bit Hamming retrieval contract: top-5 by Hamming must
    recover a well-above-chance share of the true cosine top-5 (sign
    random projection: E[hamming]/bits approximates angle/pi). Chance
    is ~1%; random 64-dim sign bits typically land 30-60%."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["emb_binarize_hamming"].fn(spark, sf_dir).toPandas()
    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    overlaps = []
    for qid, grp in got.groupby("query_id"):
        qi = np.where(ids == qid)[0][0]
        sims = S[qi].copy()
        sims[qi] = -np.inf
        true_top = set(ids[np.argsort(-sims)[:5]])
        overlaps.append(len(set(grp["neighbor_id"]) & true_top) / 5.0)
    assert np.mean(overlaps) >= 0.1, overlaps  # ~10x chance


def test_dedup_overlap_invariants(spark, sf_dir):
    """Bake-off report sanity: diagonal rows count each method against
    itself; minhash (exact-verified at the same threshold) must be a
    subset of the exact-Jaccard pair set, i.e. overlap == n_minhash."""
    pdf = SPECS["dedup_method_overlap"].fn(spark, sf_dir).toPandas()
    diag = pdf[pdf.method_a == pdf.method_b]
    assert (diag.n_a == diag.n_both).all()
    row = pdf[
        (pdf.method_a == "jaccard08") & (pdf.method_b == "minhash")
    ].iloc[0]
    assert row.n_both == row.n_b  # minhash ⊆ exact pairs


def test_netflow_v9_decoder_roundtrip_and_template_cache():
    """The v9/IPFIX streaming decoder must reproduce the generators'
    ground truth EXACTLY, and the v9 stream must be undecodable without
    the cross-packet template cache: packet 2 of every file carries
    template-257 data whose templates were only announced in packet 1,
    so truncating the file to packet 2 alone must drop those records."""
    import os
    import struct
    import tempfile

    from nfdump2clickhouse_spark.sources.netflow_v9 import (
        decode_flow_stream,
        write_ipfix,
        write_netflow_v9,
    )

    d = tempfile.mkdtemp()
    expected = write_netflow_v9(d, n_files=2, records_per_file=30)
    got = []
    for fn in sorted(os.listdir(d)):
        got.extend(decode_flow_stream(open(os.path.join(d, fn), "rb").read()))
    assert got == expected
    # the full §1.2 contract is populated: exact epoch-ms ts/te (the
    # sysUptime-relative→absolute arithmetic), td = (te-ts)/1000, IPv6
    # rows from template 258, protocol names, flag strings, exporter ra
    ts, te, td, sa, da, sp, dp, pr, flg, ipkt, ibyt, ra = got[7]
    assert ts == 1_709_251_207_000 and te - ts == 7 * 37 and td == (te - ts) / 1000.0
    assert pr in ("TCP", "UDP") and len(flg) == 6 and ra == "sid-7"
    v6_rows = [t for t in got if ":" in t[3]]
    assert len(v6_rows) == 10 and all(t[3].startswith("2001:db8::") for t in v6_rows)
    assert all(t[1] >= t[0] and t[2] == (t[1] - t[0]) / 1000.0 for t in got)

    d2 = tempfile.mkdtemp()
    expected2 = write_ipfix(d2)  # enterprise-bit skip path exercised
    got2 = []
    for fn in sorted(os.listdir(d2)):
        got2.extend(decode_flow_stream(open(os.path.join(d2, fn), "rb").read()))
    assert got2 == expected2
    # IPFIX rides absolute flowStart/EndMilliseconds (IEs 152/153)
    assert got2[0][0] == 1_709_281_200_000 and got2[0][-1] == "sid-9"

    # exporter passthrough: the transport-peer identity reaches ra
    d3 = tempfile.mkdtemp()
    exp3 = write_netflow_v9(d3, n_files=1, records_per_file=6, exporter="192.0.2.9")
    got3 = decode_flow_stream(
        open(os.path.join(d3, os.listdir(d3)[0]), "rb").read(), exporter="192.0.2.9"
    )
    assert got3 == exp3 and all(t[-1] == "192.0.2.9" for t in got3)

    # statefulness: locate packet 2 (version=9, count=15, sysUptime=up2
    # — unique byte signature) and decode from there: with the packet-1
    # template cache lost, ALL 15 packet-2 records are undecodable
    raw = open(os.path.join(d, sorted(os.listdir(d))[0]), "rb").read()
    off = raw.index(struct.pack(">HHI", 9, 15, 3_600_000 + 1000))
    tail_only = decode_flow_stream(raw[off:])
    assert tail_only == []

    # desync guard (ADVICE r3): an orphan data FlowSet (template never
    # announced) must not derail the walk — the reserved-flowset-id check
    # resynchronizes on the next packet header, so a following intact
    # capture decodes in full
    hdr = struct.pack(">HHIIII", 9, 5, 3_600_000, 1_709_251_200, 0, 7)
    orphan = struct.pack(">HH", 300, 12) + b"\x01" * 8
    resynced = decode_flow_stream(hdr + orphan + raw)
    assert resynced == expected[:30]


def test_netflow_v9_key_matches_generator(spark, sf_dir):
    """The DataSource-backed key must aggregate exactly the generators'
    expected tuples (recomputed here from the same deterministic
    formulas): 4 v9 captures x 30 flows + 2 IPFIX captures x 20."""
    from nfdump2clickhouse_spark.sources.netflow_v9 import (
        _expected_tuple,
    )

    pdf = (
        SPECS["flows_netflow_v9_decode"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("capture")
        .reset_index(drop=True)
    )
    assert len(pdf) == 6
    for _, row in pdf.iterrows():
        name = row["capture"]
        if name.startswith("nfcapd.v9."):
            f, n, b_end = int(name.split(".")[-1]), 30, 25
        else:
            f, n, b_end = 100 + int(name.split(".")[-1]), 20, 99
        exp = [_expected_tuple(f, r, v6=r >= b_end) for r in range(n)]
        assert int(row["n_flows"]) == n
        assert int(row["pkts"]) == sum(e[9] for e in exp)
        assert int(row["bytes"]) == sum(e[10] for e in exp)
        assert int(row["n_src"]) == len({e[3] for e in exp})
        assert int(row["n_udp"]) == sum(1 for e in exp if e[7] == "UDP")
        assert int(row["n_v6"]) == sum(1 for e in exp if ":" in e[3])
        assert int(row["first_ms"]) == min(e[0] for e in exp)
        assert int(row["last_ms"]) == max(e[1] for e in exp)
        assert abs(float(row["sum_td"]) - round(sum(e[2] for e in exp), 3)) < 1e-9
        assert int(row["n_exporters"]) == 1


def test_sample_temperature_rebalances(spark, sf_dir):
    """Temperature alpha=0.5 contract: effective keep-rates must be
    (weakly) anti-monotone in source size — smaller sources keep a
    larger fraction — and no quota may exceed its source."""
    pdf = SPECS["sample_temperature"].fn(spark, sf_dir).toPandas()
    assert (pdf["n_kept"] <= pdf["n_in"]).all()
    s = pdf.sort_values("n_in")
    # rate_bp non-increasing as n_in grows (ties allowed)
    rates_by_size = s.groupby("n_in")["rate_bp"].mean()
    assert (rates_by_size.diff().dropna() <= 0).all()


def test_bpe_apply_matches_pure_python(spark, sf_dir):
    """Distributed BPE encode == pure-Python Sennrich greedy encode with
    the same learned merges, recomputed here doc-by-doc."""
    from nfdump2clickhouse_spark.catalog import table
    from nfdump2clickhouse_spark.operators.text import learn_bpe_merges

    merges = [m[1].split(" ") for m in learn_bpe_merges(spark, sf_dir, 5)]

    def encode_word(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    docs = table(spark, sf_dir, "documents").select("source", "text").toPandas()
    exp = {}
    for _, row in docs.iterrows():
        toks = sum(encode_word(w) for w in row["text"].split())
        chars = sum(len(w) for w in row["text"].split())
        agg = exp.setdefault(row["source"], [0, 0, 0])
        agg[0] += 1
        agg[1] += chars
        agg[2] += toks
    got = SPECS["tokenizer_bpe_apply"].fn(spark, sf_dir).toPandas()
    for _, row in got.iterrows():
        e = exp[row["source"]]
        assert (int(row["n_docs"]), int(row["char_tokens"]), int(row["bpe_tokens"])) == tuple(e), row
        assert int(row["compression_bp"]) == 10000 * e[2] // e[1]
    assert set(got["source"]) == set(exp)


def test_pq_quantize_matches_numpy(spark, sf_dir):
    """PQ assignment pinned against a direct numpy argmin over the same
    deterministically-seeded codebooks; MSE must also beat the
    1-centroid (subspace mean) baseline in aggregate — the bar that
    says the codebook encodes real structure."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table

    emb = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    import pyspark.sql.functions as F

    seeds = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("h", F.xxhash64(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(16)
        .toPandas()
    )
    S = np.stack(seeds["embedding"].to_numpy()).astype(np.float64)
    got = (
        SPECS["emb_pq_quantize"].fn(spark, sf_dir).toPandas().sort_values("subspace")
    )
    total_pq_mse, total_mean_mse = 0.0, 0.0
    for s in range(8):
        sub = X[:, s * 8 : (s + 1) * 8]
        cb = S[:, s * 8 : (s + 1) * 8]
        d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
        err = d2.min(axis=1)
        row = got.iloc[s]
        assert int(row["n_vectors"]) == len(X)
        assert 1 <= int(row["n_codes_used"]) <= 16
        assert abs(float(row["mse_e4"]) - round(err.mean() * 10000, 4)) < 1e-6, (
            s, row["mse_e4"], err.mean() * 10000)
        total_pq_mse += err.mean()
        total_mean_mse += ((sub - sub.mean(axis=0)) ** 2).sum(-1).mean()
    assert total_pq_mse < total_mean_mse


def test_ivfpq_recall_contract(spark, sf_dir):
    """IVF-PQ two-stage search (PQ-coded shortlist of 50 + exact rescore)
    must recover >= 40% of brute-force top-5 while the candidate stage
    touches only 4-byte PQ codes — measured 0.52 at sf0.01 with the
    2-Lloyd-trained codebooks (0.32 untrained); plain IVF with full
    vectors over the same probed cells is the ~0.54 ceiling."""
    ivfpq = SPECS["ann_ivfpq_search"].fn(spark, sf_dir).toPandas()
    bf = SPECS["ann_cosine_topk"].fn(spark, sf_dir).toPandas()
    pp = set(zip(ivfpq.query_id, ivfpq.neighbor_id))
    bp = set(zip(bf.query_id, bf.neighbor_id))
    assert len(pp & bp) >= 0.4 * len(bp)
    # exactly 5 results per query, exactly-rescored cosine in [-1, 1]
    assert (ivfpq.groupby("query_id").size() == 5).all()
    assert ivfpq["cos_sim"].abs().max() <= 1.0


def test_sweep_order_unit(monkeypatch):
    """Pure-unit pin of the rotation tiers: err < never-seen < pass, each
    tier in SWEEP_ORDER whatever order the keys are passed in."""
    ev = {"a": "pass", "b": "err", "d": "pass", "f": "err"}
    monkeypatch.setattr(registry, "_certification_evidence", lambda: ev)
    monkeypatch.setattr(registry, "SWEEP_ORDER", ("a", "b", "c", "d", "e", "f"))
    got = registry._sweep_order(["f", "e", "d", "c", "b", "a"])
    assert got == ["b", "f", "c", "e", "a", "d"]


def test_sweep_order_tiers_on_synthetic_evidence(monkeypatch):
    """All four tiers on the real registry with made-up driver evidence
    (the committed evidence certifies every key, so it exercises only
    the last tier). The last three SWEEP_ORDER keys are, in table order,
    never swept, a pass whose source changed since certification, and an
    ERR; they must lead in reverse order (ERR, stale pass, never swept),
    followed by every certified key in SWEEP_ORDER, whatever the
    registration order."""
    registry._load_operators()
    reg_order = list(registry._REGISTRY)
    *certified, never, stale, err = registry.SWEEP_ORDER
    evidence = {k: ("pass", 12) for k in certified + [stale]}
    evidence[err] = ("err", 12)
    hashes = {
        k: {"hash": registry.source_hash(registry._REGISTRY[k].fn), "round": 12}
        for k in certified
    }
    hashes[stale] = {"hash": "0" * 16, "round": 12}
    monkeypatch.setattr(registry, "_evidence_detail", lambda: evidence)
    monkeypatch.setattr(registry, "_certified_hashes", lambda: hashes)
    assert registry._sweep_order(reg_order) == [err, stale, never] + certified


def test_semantic_dedup_contracts(spark, sf_dir):
    """SemDeDup cluster blocking: exact in-cell verify admits no false
    positives (blocked pair count <= brute-force pair count), soft
    2-cell assignment holds blocking recall >= 0.7 on the fixture, and
    drops never exceed cell population."""
    got = SPECS["dedup_semantic_cluster"].fn(spark, sf_dir).toPandas()
    ex = SPECS["dedup_embedding_cosine"].fn(spark, sf_dir).toPandas()
    blocked = int(got["n_candidate_pairs"].sum())
    assert blocked <= len(ex)  # subset by construction (exact verify)
    assert blocked >= 0.7 * len(ex)  # soft-assign recall floor (0.857 measured)
    assert (got["n_dropped"] <= got["n_vectors"]).all()
    assert (got["n_dropped"] <= got["n_candidate_pairs"]).all()


def test_substring_spans_are_verbatim(spark, sf_dir):
    """Every reported span must be an ACTUAL verbatim repeat: the
    span_tokens-long token run at start1 in doc id1 equals the run at
    start2 in doc id2 (recomputed here from the raw text), and spans
    are maximal on their diagonal (extending one token either side
    breaks equality or the document boundary)."""
    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["dedup_substring_spans"].fn(spark, sf_dir).toPandas()
    assert len(got) > 0
    docs = dict(
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .toPandas()
        .itertuples(index=False, name=None)
    )
    for _, r in got.iterrows():
        w1 = docs[r["id1"]].split(" ")
        w2 = docs[r["id2"]].split(" ")
        s1, s2, n = int(r["start1"]) - 1, int(r["start2"]) - 1, int(r["span_tokens"])
        assert w1[s1 : s1 + n] == w2[s2 : s2 + n], (r["id1"], r["id2"])
        # maximality (within the hot-gram cap's seed set): can't extend left/right
        if s1 > 0 and s2 > 0:
            assert w1[s1 - 1] != w2[s2 - 1], ("extends left", r["id1"], r["id2"])
        if s1 + n < len(w1) and s2 + n < len(w2):
            assert w1[s1 + n] != w2[s2 + n], ("extends right", r["id1"], r["id2"])


def _binned_bound_cases(df, vmax, nbins=4):
    """``(case, input, lo, hi, nbins)`` for every bound shape the
    ``functions.distributed.binned_*`` helpers must survive, over a frame
    whose leading order column ``v`` spans [0, vmax] and whose ``id`` is
    unique: footer-like literal bounds, the in-plan broadcast min/max
    arm (``lo=hi=None``), bounds narrower than the data (rows below
    ``lo`` and above ``hi``), ``lo == hi``, NULL leading keys (literal
    and broadcast), empty input (broadcast: NULL min/max) and more bins
    than rows. Only the bin ids move between cases; every helper result
    must stay equal to the engine's single-task window."""
    import pyspark.sql.functions as F

    nulls = df.withColumn(
        "v", F.when(F.col("id") % 11 == 0, None).otherwise(F.col("v"))
    )
    return [
        ("literal", df, 0, vmax, nbins),
        ("broadcast", df, None, None, nbins),
        ("narrow", df, vmax // 3, 2 * vmax // 3, nbins),
        ("lo_eq_hi", df, vmax // 2, vmax // 2, nbins),
        ("null_keys", nulls, 0, vmax, nbins),
        ("null_keys_broadcast", nulls, None, None, nbins),
        ("empty", df.filter(F.lit(False)), None, None, nbins),
        ("nbins_gt_rows", df, 0, vmax, 1024),
    ]


def _by_id(df, *cols):
    return df.select("id", *cols).toPandas().sort_values("id").reset_index(drop=True)


@pytest.mark.parametrize("n,k", [(1, 3), (2, 3), (3, 3), (7, 4), (100, 7), (101, 7), (105, 7), (64, 64), (63, 64)])
def test_exact_ntile_equals_window_ntile(spark, n, k):
    """functions.distributed.binned_exact_ntile's in-plan tile arithmetic
    must equal the engine's own ntile() window for adversarial (n, k)
    shapes — n<k, n=k, n%k=0, n%k!=0, single row — under every bound
    case of _binned_bound_cases."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nfdump2clickhouse_spark.functions.distributed import binned_exact_ntile

    df = spark.range(n).select((F.col("id") * 37 % 1000).alias("v"), "id")
    for case, inp, lo, hi, nbins in _binned_bound_cases(df, 999):
        got = _by_id(
            binned_exact_ntile(inp, k, "v", ["id"], "t", lo, hi, nbins=nbins), "t"
        )
        exp = _by_id(
            inp.select("id", F.ntile(k).over(Window.orderBy("v", "id")).alias("t")),
            "t",
        )
        assert got.equals(exp), (n, k, case)


def test_global_rank_equals_row_number(spark):
    """functions.distributed.binned_global_rank == single-task
    row_number over the same total order, ASC and DESC (NULLS FIRST /
    NULLS LAST, Spark's defaults), under every bound case of
    _binned_bound_cases, including the per-row total-count column."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nfdump2clickhouse_spark.functions.distributed import binned_global_rank

    df = spark.range(500).select((F.col("id") * 13 % 97).alias("v"), "id")
    for case, inp, lo, hi, nbins in _binned_bound_cases(df, 96):
        total = inp.count()
        for desc in (False, True):
            ranked = binned_global_rank(
                inp, "v", ["id"], "rk", lo, hi, desc, total_col="tot", nbins=nbins
            )
            got = _by_id(ranked, "rk", "tot")
            lead = F.desc("v") if desc else F.asc("v")
            exp = _by_id(
                inp.select(
                    "id",
                    F.row_number()
                    .over(Window.orderBy(lead, F.asc("id")))
                    .cast("bigint")
                    .alias("rk"),
                ),
                "rk",
            )
            assert got[["id", "rk"]].equals(exp), (case, desc)
            assert (got["tot"] == total).all(), (case, desc)


def test_bootstrap_ci_contains_sample_mean(spark, sf_dir):
    """Statistical sanity: lo < hi, and the 2nd..31st-order-stat interval
    of 32 Poisson resamples contains the observed per-segment mean (the
    bootstrap distribution is centered on it; a miss at this coverage
    level would be a ~1-in-500 event per segment)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["stats_bootstrap_ci"].fn(spark, sf_dir).toPandas().set_index("seg")
    obs = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("seg"))
        .agg(F.avg(F.round(F.col("o_totalprice") * 100)).alias("mean_c"))
        .toPandas()
        .set_index("seg")["mean_c"]
    )
    for seg, row in got.iterrows():
        assert row["ci_lo_c"] < row["ci_hi_c"]
        assert row["ci_lo_c"] <= obs[seg] <= row["ci_hi_c"], (seg, obs[seg], row)


def test_grouped_rank_equals_partitioned_row_number(spark):
    """functions.distributed.binned_grouped_rank ((bin, group) windows,
    broadcast offsets) must equal row_number() OVER (PARTITION BY g
    ORDER BY ...) exactly, including when a group straddles several
    bins, under every bound case of _binned_bound_cases."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nfdump2clickhouse_spark.functions.distributed import binned_grouped_rank

    df = spark.range(997).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 37 % 101).alias("v"), "id"
    )
    for case, inp, lo, hi, nbins in _binned_bound_cases(df, 100):
        got = _by_id(
            binned_grouped_rank(inp, ["g"], ["v", "id"], lo, hi, "rk", nbins), "rk"
        )
        exp = _by_id(
            inp.select(
                "id",
                F.row_number()
                .over(Window.partitionBy("g").orderBy("v", "id"))
                .cast("bigint")
                .alias("rk"),
            ),
            "rk",
        )
        assert got.equals(exp), case


def test_grouped_prefix_sums_equals_partitioned_window(spark):
    """functions.distributed.binned_grouped_prefix_sums must equal the
    partitioned running sum SUM(a) OVER (PARTITION BY g ORDER BY ...)
    bit-for-bit, with per-group ``totals=``, under every bound case of
    _binned_bound_cases."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nfdump2clickhouse_spark.functions.distributed import (
        binned_grouped_prefix_sums,
    )

    df = spark.range(997).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 37 % 101).alias("v"),
        "id",
        (F.col("id") % 7 + 1).alias("a"),
    )
    w = Window.partitionBy("g").orderBy("v", "id")
    for case, inp, lo, hi, nbins in _binned_bound_cases(df, 100):
        got = _by_id(
            binned_grouped_prefix_sums(
                inp, ["g"], ["v", "id"], ["a"], lo, hi, nbins=nbins, totals=["a"]
            ),
            "_ps_a", "_ps_tot_a",
        )
        exp = _by_id(
            inp.select(
                "id",
                F.sum("a").over(w).cast("bigint").alias("_ps_a"),
                F.sum("a").over(Window.partitionBy("g")).cast("bigint").alias("_ps_tot_a"),
            ),
            "_ps_a", "_ps_tot_a",
        )
        assert got.equals(exp), case


@pytest.mark.parametrize("n,parts,exclusive", [
    (0, 8, False), (1, 8, True), (997, 5, False), (997, 5, True), (64, 64, False),
])
def test_prefix_sums_equals_unpartitioned_window(spark, n, parts, exclusive):
    """functions.distributed.binned_prefix_sums must equal the
    single-task global window bit-for-bit — multiple sum columns,
    inclusive and exclusive frames, empty input, as many bins as rows
    (``parts`` is the bin count) — under every bound case of
    _binned_bound_cases, and its ``totals=`` columns must carry the
    grand sums on every row."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nfdump2clickhouse_spark.functions.distributed import binned_prefix_sums

    df = spark.range(n).select(
        (F.col("id") * 37 % 101).alias("v"),
        "id",
        (F.col("id") % 7 + 1).alias("a"),
        (F.col("id") * 13 % 29).alias("b"),
    )
    end = -1 if exclusive else 0
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, end)
    for case, inp, lo, hi, nbins in _binned_bound_cases(df, 100, nbins=parts):
        got = _by_id(
            binned_prefix_sums(
                inp, ["v", "id"], ["a", "b"], lo, hi, exclusive,
                nbins=nbins, totals=["a", "b"],
            ),
            "_ps_a", "_ps_b", "_ps_tot_a", "_ps_tot_b",
        )
        exp = _by_id(
            inp.select(
                "id",
                F.coalesce(F.sum("a").over(w), F.lit(0)).cast("bigint").alias("_ps_a"),
                F.coalesce(F.sum("b").over(w), F.lit(0)).cast("bigint").alias("_ps_b"),
            ),
            "_ps_a", "_ps_b",
        )
        assert got[["id", "_ps_a", "_ps_b"]].equals(exp), (n, parts, exclusive, case)
        agg = inp.agg(F.sum("a"), F.sum("b")).collect()[0]
        assert (got["_ps_tot_a"] == (agg[0] or 0)).all(), case
        assert (got["_ps_tot_b"] == (agg[1] or 0)).all(), case


def test_prefix_sums_null_order_keys_sort_first(spark):
    """NULL order keys rank first (Spark ASC NULLS FIRST) and still
    accumulate correctly through the NULL sentinel bin, with literal
    and broadcast bounds."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from nfdump2clickhouse_spark.functions.distributed import binned_prefix_sums

    df = spark.range(200).select(
        F.when(F.col("id") % 11 == 0, None).otherwise(F.col("id") * 7 % 31).alias("v"),
        "id",
        F.lit(1).alias("one"),
    )
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    exp = _by_id(df.select("id", F.sum("one").over(w).cast("bigint").alias("_ps_one")), "_ps_one")
    for lo, hi in ((0, 30), (None, None)):
        got = _by_id(
            binned_prefix_sums(df, ["v", "id"], ["one"], lo, hi, nbins=6, totals=["one"]),
            "_ps_one", "_ps_tot_one",
        )
        assert got[["id", "_ps_one"]].equals(exp), (lo, hi)
        assert (got["_ps_tot_one"] == 200).all(), (lo, hi)


def test_subsequence_search_matches_numpy(spark, sf_dir):
    """ts_subsequence_search pinned against a direct numpy z-normalized
    Euclidean recomputation of the same day series: identical top-5
    start days and round-4 distances."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["ts_subsequence_search"].fn(spark, sf_dir).toPandas()
    d = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg((F.sum(F.round(F.col("o_totalprice") * 100)) / 100.0).alias("rev"))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    L = 8
    rev = d["rev"].to_numpy()
    days = pd.to_datetime(d["day"]).to_numpy()
    W = np.lib.stride_tricks.sliding_window_view(rev, L)
    starts = days[: len(W)]
    def z(x):
        s = x.std()  # population std (ddof=0), matching the operator
        return (x - x.mean()) / (s + 1e-9)
    zq = z(W[-1])
    # exclude windows overlapping the query window's span
    q_start = starts[-1]
    mask = starts < (q_start - np.timedelta64(L - 1, "D"))
    dists = np.sqrt(((np.array([z(w) for w in W]) - zq) ** 2).sum(axis=1))
    cand = pd.DataFrame({"start_day": starts, "zdist": np.round(dists, 4)})[mask]
    exp = cand.sort_values(["zdist", "start_day"]).head(5).reset_index(drop=True)
    got = got.reset_index(drop=True)
    assert list(pd.to_datetime(got["start_day"])) == list(pd.to_datetime(exp["start_day"])), (got, exp)
    assert np.allclose(got["zdist"], exp["zdist"], atol=2e-4)


def test_sampling_correction_scales_exactly(spark, sf_dir):
    """Corrected totals must equal raw x the header's sampling interval
    (100 here), and raw totals must match the generator's deterministic
    per-file formulas."""
    pdf = (
        SPECS["flows_sampling_correction"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("capture")
        .reset_index(drop=True)
    )
    assert len(pdf) == 3 and (pdf["scale"] == 100).all()
    assert (pdf["est_pkts"] == pdf["raw_pkts"] * 100).all()
    assert (pdf["est_bytes"] == pdf["raw_bytes"] * 100).all()
    for f in range(3):
        pkts = sum(1 + (r * 3 + f) % 100 for r in range(20))
        octs = sum((1 + (r * 3 + f) % 100) * (64 + (r * 13) % 1400) for r in range(20))
        assert int(pdf.iloc[f]["raw_pkts"]) == pkts
        assert int(pdf.iloc[f]["raw_bytes"]) == octs


def test_did_identity(spark, sf_dir):
    """DiD must equal (treat_post - treat_pre) - (ctrl_post - ctrl_pre)
    of the reported cell means, and the null-effect hash split should
    keep |DiD| far below the overall mean (no real treatment exists)."""
    row = SPECS["events_did_estimator"].fn(spark, sf_dir).collect()[0]
    did = (row.m_treat_post - row.m_treat_pre) - (row.m_ctrl_post - row.m_ctrl_pre)
    assert row.did_c == did
    overall = (row.m_treat_pre + row.m_treat_post + row.m_ctrl_pre + row.m_ctrl_post) / 4
    assert abs(row.did_c) < 0.5 * overall


def test_label_propagation_partitions_and_structure(spark, sf_dir):
    """Communities must partition all 25 nations, the k-NN
    sparsification must expose structure (>= 2 communities — the dense
    graph collapses to one), and each community's representative label
    must be one of its own members (labels originate from node ids)."""
    pdf = SPECS["graph_label_propagation"].fn(spark, sf_dir).toPandas()
    assert int(pdf["n_nations"].sum()) == 25
    assert len(pdf) >= 2  # k-NN sparsification must expose structure
    assert (pdf["min_nation"] <= pdf["community"]).all()
    assert (pdf["community"] <= pdf["max_nation"]).all()


def test_asof_nearest_is_truly_nearest(spark, sf_dir):
    """Brute-force property check on a sample of users: the matched
    signup must minimize |purchase_ts - signup_ts| among the user's
    signups (ties resolved backward)."""
    import pandas as pd

    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["join_asof_nearest"].fn(spark, sf_dir).toPandas()
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .filter(F.col("user_id") < 50)
        .select("user_id", "event_id", "event_type", "ts")
        .toPandas()
    )
    sample = got[got["user_id"] < 50]
    assert len(sample) > 0
    for _, r in sample.iterrows():
        u = ev[ev["user_id"] == r["user_id"]]
        p = u[u["event_id"] == r["purchase_id"]].iloc[0]
        sigs = u[u["event_type"] == "signup"]
        best = min(
            sigs.itertuples(),
            key=lambda s: (abs((p["ts"] - s.ts).value), s.ts > p["ts"], s.event_id),
        )
        chosen = sigs[sigs["event_id"] == r["signup_id"]].iloc[0]
        assert abs((p["ts"] - chosen["ts"]).value) == abs((p["ts"] - best.ts).value), r


def test_auc_matches_numpy_mannwhitney(spark, sf_dir):
    """Pin the integer AUC against a direct numpy tie-aware
    rank-statistic computation (midrank Mann-Whitney U / (P*N))."""
    import numpy as np

    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    row = SPECS["ml_eval_auc"].fn(spark, sf_dir).collect()[0]
    pdf = (
        table(spark, sf_dir, "events")
        .select("value", (F.col("event_type") == "purchase").alias("pos"))
        .toPandas()
    )
    v = pdf["value"].to_numpy()
    y = pdf["pos"].to_numpy()
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v))
    sv = v[order]
    # midranks over ties
    import pandas as pd

    ranks[order] = pd.Series(sv).rank(method="average").to_numpy()
    P, N = int(y.sum()), int((~y).sum())
    u = ranks[y].sum() - P * (P + 1) / 2
    auc = u / (P * N)
    assert row.n_pos == P and row.n_neg == N
    assert abs(row.auc_e6 / 1e6 - auc) < 2e-6, (row.auc_e6, auc)


def test_pr_threshold_monotone(spark, sf_dir):
    """Raising the threshold can only raise precision's numerator share
    structure: recall must be non-increasing in thr, and tp+fn (total
    positives) constant across thresholds."""
    pdf = (
        SPECS["ml_eval_pr_threshold"].fn(spark, sf_dir).toPandas().sort_values("thr")
    )
    totals = (pdf["tp"] + pdf["fn"]).unique()
    assert len(totals) == 1
    assert (pdf["recall_bp"].diff().dropna() <= 0).all()


def test_target_encoding_never_leaks_own_fold(spark, sf_dir):
    """Leakage audit: fold f's encoding for a category must equal the
    round-half-up mean of the OTHER fold's rows only, recomputed here
    independently."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["features_target_encoding"].fn(spark, sf_dir).toPandas()
    li = table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    raw = li.select(
        F.col("l_returnflag").alias("cat"),
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 2).alias("fold"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    ).toPandas()
    for _, r in got.iterrows():
        other = raw[(raw["cat"] == r["cat"]) & (raw["fold"] != r["fold"])]
        s, n = int(other["cents"].sum()), len(other)
        assert int(r["enc_mean_c"]) == (2 * s + n) // (2 * n), r


def test_partition_stats_invariants(spark, sf_dir):
    """Partition report totals must reconcile with the source: sum of
    n_rows == events count, every partition has >= 1 file, bytes > 0,
    and mean_file_bytes == bytes/n_files (floor)."""
    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["maint_partition_stats"].fn(spark, sf_dir).toPandas()
    total = table(spark, sf_dir, "events").count()
    assert int(pdf["n_rows"].sum()) == total
    assert (pdf["n_files"] >= 1).all() and (pdf["bytes"] > 0).all()
    assert (pdf["mean_file_bytes"] == pdf["bytes"] // pdf["n_files"]).all()


def test_v9_options_sampling_extraction():
    """Options-template roundtrip: the decoder must learn the announced
    SAMPLING_INTERVAL from the options data record (per source), while
    flow decoding and the no-options default stay byte-identical."""
    import os
    import tempfile

    from nfdump2clickhouse_spark.sources.netflow_v9 import (
        decode_flow_stream,
        write_netflow_v9,
    )

    d = tempfile.mkdtemp()
    exp = write_netflow_v9(d, n_files=2, records_per_file=10, sampling_interval=50)
    got, metas = [], []
    for fn in sorted(os.listdir(d)):
        flows, meta = decode_flow_stream(
            open(os.path.join(d, fn), "rb").read(), with_meta=True
        )
        got.extend(flows)
        metas.append(meta)
    assert got == exp  # options records never perturb flow decode
    assert all(m["sampling"] == {7: 50} for m in metas)
    # default path (no options) unchanged
    d2 = tempfile.mkdtemp()
    exp2 = write_netflow_v9(d2, n_files=1, records_per_file=6)
    flows2, meta2 = decode_flow_stream(
        open(os.path.join(d2, sorted(os.listdir(d2))[0]), "rb").read(),
        with_meta=True,
    )
    assert flows2 == exp2 and meta2["sampling"] == {}


def test_v9_options_key_scales(spark, sf_dir):
    pdf = (
        SPECS["flows_v9_sampling_options"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("capture")
        .reset_index(drop=True)
    )
    assert len(pdf) == 3 and (pdf["interval"] == 50).all()
    assert (pdf["est_pkts"] == pdf["raw_pkts"] * 50).all()
    assert (pdf["est_bytes"] == pdf["raw_bytes"] * 50).all()
    assert (pdf["n_flows"] == 16).all()


def test_survival_km_matches_pure_python(spark, sf_dir):
    """Pin the recursive-CTE product-limit against a direct pure-Python
    KM fold over the same (duration, censored) cohort, including the
    e6 fixed-point floor-division chain."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    got = (
        SPECS["events_survival_km"].fn(spark, sf_dir).toPandas().sort_values("t_days")
    )
    ue = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("f"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.to_date("ts"))
            ).alias("p"),
        )
        .toPandas()
    )
    t_raw = (ue["p"] - ue["f"]).apply(lambda d: 999 if pd.isna(d) else d.days)
    t = t_raw.clip(upper=3)
    censored = t_raw > 3
    import collections

    d = collections.Counter(t[~censored])
    c = collections.Counter(t[censored])
    all_t = sorted(set(d) | set(c))
    n_at = {}
    remaining = len(ue)
    for tt in all_t:
        n_at[tt] = remaining
        remaining -= d.get(tt, 0) + c.get(tt, 0)
    s = 1_000_000
    exp_rows = []
    for tt in sorted(d):
        s = s * (n_at[tt] - d[tt]) // n_at[tt]
        exp_rows.append((tt, n_at[tt], d[tt], s))
    assert [tuple(r) for r in got[["t_days", "n_at_risk", "n_churned", "s_e6"]].to_numpy()] == exp_rows
    # survival must be non-increasing and in (0, 1e6]
    assert (got["s_e6"].diff().dropna() <= 0).all()


def test_gini_matches_numpy(spark, sf_dir):
    """Pin the rank-formula Gini against a direct numpy computation on
    the same integer cents; uniform synthetic prices must land near the
    theoretical uniform-distribution Gini of 1/3."""
    import numpy as np
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    got = SPECS["agg_gini_concentration"].fn(spark, sf_dir).toPandas()
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("grp"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )
        .toPandas()
    )
    for _, r in got.iterrows():
        x = np.sort(li[li["grp"] == r["grp"]]["cents"].to_numpy())
        n = len(x)
        rk = np.arange(1, n + 1, dtype=object)
        g_e6 = (2 * int((rk * x).sum()) - (n + 1) * int(x.sum())) * 1_000_000 // (
            n * int(x.sum())
        )
        assert int(r["gini_e6"]) == g_e6, (r["grp"], r["gini_e6"], g_e6)
        assert 0.25 < r["gini_e6"] / 1e6 < 0.40  # ~1/3 for uniform prices


def test_lorenz_curve_properties(spark, sf_dir):
    """Lorenz invariants: 10 deciles partitioning all rows, cumulative
    share strictly increasing to exactly 10000 bp, and convexity
    (increments non-decreasing — higher deciles add more share)."""
    from nfdump2clickhouse_spark.catalog import table

    pdf = (
        SPECS["agg_lorenz_deciles"].fn(spark, sf_dir).toPandas().sort_values("decile")
    )
    assert list(pdf["decile"]) == list(range(1, 11))
    assert int(pdf["n_rows"].sum()) == table(spark, sf_dir, "lineitem").count()
    cum = pdf["cum_share_bp"].tolist()
    assert cum[-1] == 10000
    assert all(b > a for a, b in zip(cum, cum[1:]))
    inc = [cum[0]] + [b - a for a, b in zip(cum, cum[1:])]
    assert all(b >= a for a, b in zip(inc, inc[1:]))  # convex


def test_cohort_ltv_monotone_and_reconciles(spark, sf_dir):
    """Cumulative LTV must be non-decreasing within each cohort, and
    total bucketed revenue must equal total purchase revenue."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    pdf = (
        SPECS["events_cohort_ltv"].fn(spark, sf_dir).toPandas()
        .sort_values(["cohort", "age_week"])
    )
    for _, g in pdf.groupby("cohort"):
        assert (g["cum_ltv_c_per_user"].diff().dropna() >= 0).all()
    total = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")))
        .collect()[0][0]
    )
    assert int(pdf["rev_c"].sum()) == int(total)


def test_degree_histogram_reconciles(spark, sf_dir):
    """Histogram mass must equal the corpus size, and the handshake
    identity must hold: sum(degree * n_docs) == 2 * |pairs|."""
    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["dedup_degree_histogram"].fn(spark, sf_dir).toPandas()
    assert int(pdf["n_docs"].sum()) == table(spark, sf_dir, "documents").count()
    pairs = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir).count()
    assert int((pdf["degree"] * pdf["n_docs"]).sum()) == 2 * pairs


def test_hhi_bounds(spark, sf_dir):
    """HHI must satisfy 1e6/n_suppliers <= hhi <= 1e6 per nation
    (floor-division slack on the lower bound)."""
    pdf = SPECS["agg_hhi_concentration"].fn(spark, sf_dir).toPandas()
    assert (pdf["hhi_e6"] <= 1_000_000).all()
    assert (pdf["hhi_e6"] >= 1_000_000 // pdf["n_suppliers"] - 1).all()


def test_streaks_reconcile_users(spark, sf_dir):
    """Every user appears exactly once in the streak histogram, and the
    max streak cannot exceed the corpus day span."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["events_activity_streaks"].fn(spark, sf_dir).toPandas()
    e = table(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    n_days = e.select(F.to_date("ts")).distinct().count()
    assert int(pdf["n_users"].sum()) == n_users
    assert int(pdf["streak_days"].max()) <= n_days


def test_asof_tolerance_is_subset_of_backward(spark, sf_dir):
    """The tolerance-bounded match set must be a subset of the plain
    backward as-of join's matches (tightening the bound only removes
    matches), and every purchase must survive (pandas semantic)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    tol = SPECS["join_asof_tolerance"].fn(spark, sf_dir).toPandas()
    back = SPECS["join_asof"].fn(spark, sf_dir).toPandas()
    n_purchases = (
        table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert len(tol) == n_purchases  # unmatched rows survive
    tp = set(zip(tol[tol["matched"]]["purchase_id"], tol[tol["matched"]]["signup_id"].astype(int)))
    bp = set(zip(back["purchase_id"], back["signup_id"]))
    assert tp <= bp


def test_peak_concurrency_matches_pure_python(spark, sf_dir):
    """Pin the distributed sweep line against a direct pure-Python
    sweep over the same boundaries (inclusive-tie semantics)."""
    import collections

    from nfdump2clickhouse_spark.catalog import table

    got = (
        SPECS["events_peak_concurrency"].fn(spark, sf_dir).toPandas()
        .set_index("day")["peak"].to_dict()
    )
    ts = table(spark, sf_dir, "events").select("ts").toPandas()["ts"]
    deltas = collections.defaultdict(int)
    for t in ts:
        deltas[(t, 1)] += 1
        deltas[(t + pd.Timedelta(hours=1), -1)] -= 1
    conc, peak = 0, collections.defaultdict(int)
    for (t, delta), d in sorted(deltas.items()):
        conc += d
        if delta == 1:
            day = t.normalize()
            peak[day] = max(peak[day], conc)
    assert {pd.Timestamp(k): int(v) for k, v in got.items()} == dict(peak)


def test_new_vs_returning_reconciles(spark, sf_dir):
    """Sum of new_users over all days == total distinct users (each user
    is new exactly once), and day-1 has zero returning users."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    pdf = (
        SPECS["events_new_vs_returning"].fn(spark, sf_dir).toPandas().sort_values("day")
    )
    e = table(spark, sf_dir, "events")
    assert int(pdf["new_users"].sum()) == e.select("user_id").distinct().count()
    assert int(pdf.iloc[0]["returning_users"]) == 0


def test_groupwise_min_keeps_ties(spark, sf_dir):
    """Every surviving row must actually carry its part's minimum price,
    every part < 200 must be represented, and ties (if any) all
    survive — the semantic difference vs agg_argmax."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["join_groupwise_min"].fn(spark, sf_dir).toPandas()
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 200)
        .select("l_partkey", F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"))
        .toPandas()
    )
    mins = li.groupby("l_partkey")["price_c"].min()
    counts = li.groupby("l_partkey").apply(
        lambda g: int((g["price_c"] == g["price_c"].min()).sum()), include_groups=False
    )
    assert set(pdf["l_partkey"]) == set(mins.index)
    for pk, g in pdf.groupby("l_partkey"):
        assert (g["price_c"] == mins[pk]).all()
        assert len(g) == counts[pk]  # all tied rows survive


def test_weekday_seasonality_reconciles(spark, sf_dir):
    """Seven weekday rows partitioning all orders; shares sum to
    ~10000 bp (floor-division slack < 7)."""
    from nfdump2clickhouse_spark.catalog import table

    pdf = SPECS["agg_weekday_seasonality"].fn(spark, sf_dir).toPandas()
    assert sorted(pdf["dow"]) == list(range(1, 8))
    assert int(pdf["n_orders"].sum()) == table(spark, sf_dir, "orders").count()
    assert 10000 - 7 <= int(pdf["share_bp"].sum()) <= 10000


def test_funnel_windowed_dp_vs_bruteforce(spark, sf_dir):
    """The linear greedy-latest DP must equal a brute-force python chain
    search over every user's event list — independent of the join-based
    SQL oracle, this pins the DP's optimality argument (greedy-latest
    chain start is optimal because span<=W is the only constraint)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.events import _FUNNEL_W_S

    pdf = (
        _table(spark, sf_dir, "events")
        .select(
            "user_id", "event_type",
            F.unix_timestamp(F.date_trunc("second", "ts")).alias("t"),
        )
        .toPandas()
    )
    depths = {}
    for uid, g in pdf.groupby("user_id"):
        ev = sorted(zip(g["t"], g["event_type"]))
        s1 = [t for t, ty in ev if ty == "signup"]
        depth = 1 if s1 else 0
        best = 0
        for t2, ty2 in ev:
            if ty2 != "click":
                continue
            starts = [t1 for t1 in s1 if t1 <= t2 and t2 - t1 <= _FUNNEL_W_S]
            if starts:
                depth = max(depth, 2)
                for t3, ty3 in ev:
                    if ty3 == "purchase" and t3 >= t2 and any(
                        t3 - t1 <= _FUNNEL_W_S for t1 in starts
                    ):
                        depth = 3
        depths[uid] = depth
    from collections import Counter
    exp = Counter(depths.values())
    got = {
        int(r["depth"]): int(r["n_users"])
        for _, r in SPECS["events_funnel_windowed"].fn(spark, sf_dir).toPandas().iterrows()
    }
    assert got == {d: n for d, n in exp.items()}, (got, dict(exp))


def test_sessionize_gap_invariants(spark, sf_dir):
    """Session accounting must reconcile: total events across sessions ==
    user's event count, and session count is 1 + number of >30min gaps."""
    pdf = SPECS["events_sessionize_gap"].fn(spark, sf_dir).toPandas()
    from nfdump2clickhouse_spark.catalog import table as _table
    ev = (
        _table(spark, sf_dir, "events")
        .groupBy("user_id").count().toPandas().set_index("user_id")["count"]
    )
    assert (pdf.set_index("user_id")["n_events"].sort_index() == ev.sort_index()).all()
    assert (pdf["n_sessions"] >= 1).all()
    assert (pdf["max_session_events"] <= pdf["n_events"]).all()


def test_kcore_fixpoint_reached(spark, sf_dir):
    """The unrolled peel count must be PAST the fixpoint: running the
    same peel with one extra round must not change the surviving set
    (otherwise the fixed unroll silently under-peels)."""
    import nfdump2clickhouse_spark.operators.joins as joins

    base = joins.graph_kcore(spark, sf_dir).toPandas()
    orig = joins._KCORE_ROUNDS
    try:
        joins._KCORE_ROUNDS = orig + 1
        more = joins.graph_kcore(spark, sf_dir).toPandas()
    finally:
        joins._KCORE_ROUNDS = orig
    b = base.sort_values("node").reset_index(drop=True)
    m = more.sort_values("node").reset_index(drop=True)
    assert b.equals(m), "peel had not converged within the unrolled rounds"


def test_kcore_is_maximal_subgraph(spark, sf_dir):
    """Every surviving node's core_degree must be >= k, and the core is
    consistent: degrees counted only among survivors."""
    import nfdump2clickhouse_spark.operators.joins as joins

    pdf = joins.graph_kcore(spark, sf_dir).toPandas()
    if len(pdf):
        assert (pdf["core_degree"] >= joins._KCORE_K).all()


def test_repeat_factor_copies_bounds(spark, sf_dir):
    """Copies per doc are floor(w) or floor(w)+1, and the per-source
    effective rate lands within one integer copy of the weight."""
    pdf = SPECS["sample_repeat_factor"].fn(spark, sf_dir).toPandas()
    w_by_mod = {0: 2.5, 1: 1.25, 2: 1.0, 3: 0.4}
    for _, r in pdf.iterrows():
        w = w_by_mod[int(r["source"][3:]) % 4]
        assert abs(r["n_emitted"] / r["n_docs"] - w) <= 0.5, r["source"]
        lo, hi = int(w), int(w) + 1
        # epoch_sum consistency: sum c(c+1)/2 with c in {lo, hi}
        n_hi = r["n_emitted"] - lo * r["n_docs"]
        n_lo = r["n_docs"] - n_hi
        exp = n_lo * lo * (lo + 1) // 2 + n_hi * hi * (hi + 1) // 2
        assert r["epoch_sum"] == exp, r["source"]


def test_unigram_em_matches_pure_python_reference(spark, sf_dir):
    """tokenizer_unigram_em must reproduce an INDEPENDENT pure-Python
    Viterbi-EM (recursive memoized segmenter, separate code path from
    the engine's iterative DP) run on the same word-frequency dict —
    same seed rule, same tie-breaks, identical top-50 (piece, count)."""
    import math
    from functools import lru_cache

    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.functions.text import words
    from nfdump2clickhouse_spark.operators.text import (
        _EM_ITERS, _MAX_PIECE, _SEED_N, _TOP_OUT,
    )

    wf = (
        _table(spark, sf_dir, "documents")
        .select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    freq = {r["w"]: int(r["count"]) for r in wf}

    # seed: weighted substring counts, chars guaranteed
    sub: dict[str, int] = {}
    for w, f in freq.items():
        for i in range(len(w)):
            for l in range(1, min(_MAX_PIECE, len(w) - i) + 1):
                sub[w[i : i + l]] = sub.get(w[i : i + l], 0) + f
    top = sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))[:_SEED_N]
    counts = {p: c for p, c in sub.items() if len(p) == 1}
    for p, c in top:
        counts.setdefault(p, c)

    for _ in range(_EM_ITERS):
        total = sum(counts.values())
        logp = {p: math.log(c / total) for p, c in counts.items()}

        def segment(word):
            # recursive formulation (vs the engine's iterative DP)
            @lru_cache(maxsize=None)
            def best(i):
                # best segmentation of word[i:]; returns (score, -n, seq)
                if i == len(word):
                    return (0.0, 0, ())
                b = (float("-inf"), 0, ())
                for l in range(1, min(_MAX_PIECE, len(word) - i) + 1):
                    piece = word[i : i + l]
                    if piece not in logp:
                        continue
                    tail = best(i + l)
                    if tail[0] == float("-inf"):
                        continue
                    cand = (logp[piece] + tail[0], -1 + tail[1],
                            (piece,) + tail[2])
                    if cand[:2] > b[:2] or (cand[:2] == b[:2] and cand[2] < b[2]):
                        b = cand
                return b

            return best(0)[2]

        nxt: dict[str, int] = {}
        for w, f in freq.items():
            for piece in segment(w):
                nxt[piece] = nxt.get(piece, 0) + f
        counts = nxt

    total = sum(counts.values())
    exp = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOP_OUT]
    exp_rows = [
        (p, c, (2 * 10**6 * c + total) // (2 * total)) for p, c in exp
    ]
    got = [
        (r["piece"], int(r["count"]), int(r["prob_e6"]))
        for r in SPECS["tokenizer_unigram_em"].fn(spark, sf_dir).collect()
    ]
    assert got == exp_rows


def test_unigram_em_pieces_are_multichar_subwords(spark, sf_dir):
    """The learned inventory must contain genuine multi-char subword
    pieces (an EM that collapses to characters learned nothing)."""
    pdf = SPECS["tokenizer_unigram_em"].fn(spark, sf_dir).toPandas()
    assert (pdf["piece"].str.len() > 1).sum() >= 10
    assert (pdf["count"] > 0).all()


def test_whitening_covariance_is_identity(spark, sf_dir):
    """emb_whitening contract: the whitened sample has ~zero mean and
    ~identity covariance, and matches a full-numpy ZCA of the same
    table (same eigen floor)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["emb_whitening"].fn(spark, sf_dir)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    # white is a comma-joined 8-decimal string (driver-canonicalizer
    # flat-column rule); parse back — quantization error is <= 5e-9
    Z = np.stack(
        [np.fromstring(s, sep=",") for s in got["white"]]
    )
    n = len(Z)
    assert abs(Z.mean(axis=0)).max() < 1e-7
    cov = Z.T @ Z / n
    assert abs(cov - np.eye(cov.shape[0])).max() < 1e-6
    # independent numpy reference
    emb = (
        _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    Xc = X - X.mean(axis=0)
    c = Xc.T @ Xc / n
    vals, vecs = np.linalg.eigh(c)
    W = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, 1e-6))) @ vecs.T
    Zref = Xc @ W.T
    assert abs(Z - Zref).max() < 1e-6
    # norm_r column is the rounded row norm
    assert np.allclose(got["norm_r"], np.round(np.linalg.norm(Z, axis=1), 4))


def test_interval_overlap_vs_bruteforce(spark, sf_dir):
    """The binned-equi-join overlap formulation must equal a brute-force
    pandas interval check (third formulation, independent of both the
    engine's bins and the oracle's non-equi join)."""
    import pandas as pd

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["join_interval_overlap"].fn(spark, sf_dir)
        .toPandas().sort_values("c_start").reset_index(drop=True)
    )
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).toPandas()
    o["wstart"] = o["o_orderdate"].dt.to_period("W").dt.start_time
    top = (
        o.groupby("wstart").size().reset_index(name="n")
        .sort_values(["n", "wstart"], ascending=[False, True]).head(20)
    )
    rows = []
    for ws in top["wstart"]:
        ce = ws + pd.Timedelta(days=14)
        m = o[(o["o_orderdate"] < ce) & (o["o_orderdate"] + pd.Timedelta(days=7) > ws)]
        rows.append((ws, len(m), round(m["o_totalprice"].sum(), 2)))
    exp = pd.DataFrame(rows, columns=["c_start", "n_orders", "revenue"]).sort_values(
        "c_start").reset_index(drop=True)
    assert list(got["c_start"]) == list(exp["c_start"])
    assert list(got["n_orders"]) == list(exp["n_orders"])
    assert (got["revenue"] - exp["revenue"]).abs().max() < 0.02


def test_csv_multiline_content_roundtrip(spark, sf_dir):
    """Beyond the hash: the parsed notes must be BYTE-identical to the
    written construction (newline + doubled-quote survival)."""
    pdf = SPECS["scan_csv_multiline_quoted"].fn(spark, sf_dir).toPandas()
    assert (pdf["n_newlines"] == 1).all()
    assert (pdf["n_commas"] == 2).all()
    assert len(pdf) > 100


def test_holt_winters_matches_reference_loop(spark, sf_dir):
    """ts_holt_winters pinned against an independent pandas/python
    recursion over the same daily series (same fixed alpha/beta/gamma,
    same seasonal init) — bit-identical forecasts."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    daily = (
        _table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("series"), F.to_date("ts").alias("day"))
        .count()
        .toPandas()
    )
    m, alpha, beta, gamma = 7, 0.3, 0.1, 0.2
    exp = {}
    for series, g in daily.groupby("series"):
        y = g.sort_values("day")["count"].astype(float).to_numpy()
        if len(y) < 2 * m:
            continue
        level = y[:m].mean()
        trend = (y[m:2*m].mean() - y[:m].mean()) / m
        seas = [y[i] - level for i in range(m)]
        for t in range(len(y)):
            s = seas[t % m]
            nl = alpha * (y[t] - s) + (1 - alpha) * (level + trend)
            trend = beta * (nl - level) + (1 - beta) * trend
            seas[t % m] = gamma * (y[t] - nl) + (1 - gamma) * s
            level = nl
        for h in range(1, 8):
            exp[(series, h)] = round(level + h * trend + seas[(len(y) + h - 1) % m], 4)
    got = {
        (r["series"], int(r["h"])): r["forecast_r"]
        for r in SPECS["ts_holt_winters"].fn(spark, sf_dir).collect()
    }
    assert got == exp
    assert len(got) == 5 * 7  # five event types x 7-day horizon


def test_cuped_actually_reduces_variance(spark, sf_dir):
    """CUPED contract verified against a pandas recomputation: theta is
    the OLS slope, the adjusted per-user metric has variance
    (1 - rho^2) * var(post), and the reported var_reduction_bp matches
    the pandas rho^2 within a basis point."""
    import numpy as np
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.events import _MULT, _SPLIT

    e = (
        _table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"), "value")
        .toPandas()
    )
    import pandas as pd

    split = pd.Timestamp(_SPLIT).date()
    e["cents"] = (e["value"] * 100).round().astype("int64")
    u = e.groupby("user_id").apply(
        lambda g: pd.Series(
            {
                "pre": g.loc[g["d"] < split, "cents"].sum(),
                "post": g.loc[g["d"] >= split, "cents"].sum(),
            }
        ),
        include_groups=False,
    )
    pre, post = u["pre"].to_numpy(float), u["post"].to_numpy(float)
    theta = np.cov(pre, post, bias=True)[0, 1] / np.var(pre)
    adj = post - theta * (pre - pre.mean())
    rho2 = np.cov(pre, post, bias=True)[0, 1] ** 2 / (
        np.var(pre) * np.var(post)
    )
    assert np.var(adj) <= np.var(post)  # CUPED never hurts (pooled theta)
    assert abs(np.var(adj) / np.var(post) - (1 - rho2)) < 1e-9
    got = SPECS["events_cuped_adjust"].fn(spark, sf_dir).toPandas()
    assert abs(float(got["theta_r"].iloc[0]) - round(theta, 4)) < 1e-9
    assert abs(int(got["var_reduction_bp"].iloc[0]) - round(10000 * rho2)) <= 1
    # arm means reconcile with the hash-split recomputation
    arms = (u.reset_index().assign(
        arm=lambda d: (d["user_id"] * _MULT) % 4294967296 % 2))
    for _, r in got.iterrows():
        g = arms[arms["arm"] == r["arm"]]
        assert abs(r["mean_post"] - round(g["post"].mean() / 100, 4)) < 1e-9


def test_freshness_sla_watermark_consistency(spark, sf_dir):
    """Every stream's lag is nonnegative; at least one stream sits AT
    the watermark (lag 0); totals reconcile with the events table."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    pdf = SPECS["data_freshness_sla"].fn(spark, sf_dir).toPandas()
    assert (pdf["lag_s"] >= 0).all() and (pdf["lag_s"] == 0).any()
    n = _table(spark, sf_dir, "events").count()
    assert pdf["n_total"].sum() == n
    assert (pdf["n_last_day"] <= pdf["n_total"]).all()


def test_registry_catalog_reconciles(spark, sf_dir):
    """meta_registry_catalog must describe exactly the registered keys:
    same key set as all_specs, correct hash_checked flags, a nonempty
    summary for every key (every operator is documented), and module
    attribution that actually imports."""
    pdf = SPECS["meta_registry_catalog"].fn(spark, sf_dir).toPandas()
    assert set(pdf["key"]) == set(SPECS)
    oracled = {k for k, s in SPECS.items() if s.oracle is not None}
    assert set(pdf.loc[pdf["hash_checked"], "key"]) == oracled
    assert (pdf["summary"].str.len() > 0).all(), "undocumented key"
    assert pdf["key"].is_unique
    for key, module in zip(pdf["key"], pdf["module"]):
        mod = importlib.import_module(f"nfdump2clickhouse_spark.operators.{module}")
        fn = SPECS[key].fn
        assert getattr(mod, fn.__name__, None) is fn, (key, module)


def test_hll_sliding_union_error_bound(spark, sf_dir):
    """The sketch-union sliding distinct must track the exact sliding
    distinct within HLL error (default lgConfigK=12 => ~1.6% standard
    error; assert 5% with headroom) on every full window."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_hll_sliding_union"].fn(spark, sf_dir)
        .toPandas().set_index("wend")["approx_users"]
    )
    assert len(got) > 0
    e = _table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    exact = {}
    days = [r.day for r in e.select("day").distinct().collect()]
    import datetime

    for w in got.index:
        lo = w - datetime.timedelta(days=6)
        exact[w] = (
            e.filter((F.col("day") >= lo) & (F.col("day") <= w))
            .select("user_id").distinct().count()
        )
    for w, approx in got.items():
        assert abs(approx - exact[w]) / max(exact[w], 1) < 0.05, (w, approx, exact[w])


# --- wave-22 (round 5) -------------------------------------------------------


def test_stitch_conserves_segments_and_bytes(spark, sf_dir):
    """Stitching re-groups segments, never drops or duplicates them:
    Σ n_seg·n_flows = input rows, Σ bytes preserved."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    pdf = SPECS["flows_stitch_rotation"].fn(spark, sf_dir).toPandas()
    e = _table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n_in = e.count()
    byt_in = e.select(
        F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("b")
    ).collect()[0].b
    assert int((pdf.n_seg * pdf.n_flows).sum()) == n_in
    assert int(pdf.total_bytes.sum()) == byt_in
    assert (pdf.n_seg >= 1).all()


def test_url_canonicalize_collapses_variants(spark, sf_dir):
    """Every canonical URL absorbs all raw spellings of its resource;
    the canonical key never contains a tracking param, an uppercase
    host, or a port."""
    pdf = SPECS["dedup_url_canonicalize"].fn(spark, sf_dir).toPandas()
    assert (pdf.n_variants <= pdf.n_raw).all()
    assert (pdf.n_variants > 1).any()  # the collapse actually happened
    assert not pdf.canonical_url.str.contains("utm_").any()
    assert not pdf.canonical_url.str.contains(":443").any()
    host = pdf.canonical_url.str.split("/").str[0]
    assert (host == host.str.lower()).all()


def test_mann_whitney_unbiased_split_near_zero(spark, sf_dir):
    """On an unbiased hash split, |z| must be small; U bounded by
    n0·n1; tie term positive (prices tie heavily)."""
    row = SPECS["stats_mann_whitney"].fn(spark, sf_dir).collect()[0]
    assert 0 <= row.u0_2x <= 2 * row.n0 * row.n1
    assert abs(row.z) < 4.0
    assert row.tie_cubes > 0


def test_mann_whitney_matches_numpy_ranks(spark, sf_dir):
    """Independent recomputation: rebuild U and z from the raw values
    with numpy average ranks (the textbook formulation) and pin exact
    equality of the integer statistics — the oracle shares our SQL
    shape; this check does not."""
    import math

    import numpy as np
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_mann_whitney"].fn(spark, sf_dir).collect()[0]
    li = _table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    pdf = li.select(
        F.col("l_extendedprice").alias("v"),
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 2).alias("g"),
    ).toPandas()
    v, g = pdf.v.to_numpy(), pdf.g.to_numpy()
    uniq, inv, cnt = np.unique(v, return_inverse=True, return_counts=True)
    below = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    rank2 = 2 * below + cnt + 1  # 2x-scaled average rank per distinct v
    r0_2x = int(rank2[inv][g == 0].sum())
    n0, n1 = int((g == 0).sum()), int((g == 1).sum())
    n = n0 + n1
    u0_2x = r0_2x - n0 * (n0 + 1)
    tie_cubes = int((cnt.astype(object) ** 3 - cnt).sum())
    assert (row.n0, row.n1) == (n0, n1)
    assert row.u0_2x == u0_2x
    assert row.tie_cubes == tie_cubes
    var = (n0 * n1 / 12.0) * ((n + 1) - tie_cubes / (n * (n - 1.0)))
    z = (u0_2x - float(n0) * n1) / (2.0 * math.sqrt(var))
    assert abs(row.z - round(z, 4)) < 2e-4


def test_dp_counts_noise_bounded_and_reproducible(spark, sf_dir):
    """Laplace(b=1) noise from a u bounded away from ±0.5 by 1/2^33:
    |noise| <= ln(2^33) < 23; the release is a pure function of the
    category key (two runs identical); true counts reconcile with the
    events table."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    a = SPECS["privacy_dp_counts"].fn(spark, sf_dir).toPandas()
    b = SPECS["privacy_dp_counts"].fn(spark, sf_dir).toPandas()
    assert a.sort_values("event_type").reset_index(drop=True).equals(
        b.sort_values("event_type").reset_index(drop=True)
    )
    noise_e4 = a.noisy_e4 - a.n_true * 10000
    assert (noise_e4.abs() <= 23 * 10000).all()
    assert (noise_e4 != 0).any()  # noise is actually applied
    n = _table(spark, sf_dir, "events").count()
    assert a.n_true.sum() == n


def test_perplexity_filter_reconciles_with_lm_scores(spark, sf_dir):
    """The per-source report must reconcile with the `text_ngram_lm`
    per-doc scores it is built on: same doc universe, kept counts equal
    a pandas recomputation at the same threshold."""
    lm = SPECS["text_ngram_lm"].fn(spark, sf_dir).toPandas()
    rep = SPECS["text_lm_perplexity_filter"].fn(spark, sf_dir).toPandas()
    assert rep.n_docs.sum() == len(lm)
    assert rep.n_kept.sum() == int((lm.avg_logp >= -6.2).sum())
    assert ((rep.kept_bp >= 0) & (rep.kept_bp <= 10000)).all()
    assert (rep.n_kept <= rep.n_docs).all()


# --- wave-23 (round 5) -------------------------------------------------------


def test_spatial_grid_cover_is_complete(spark):
    """The 3x3 cell neighborhood must be a COMPLETE candidate cover at
    radius 100 km < 1 deg of latitude: the grid join's per-site counts
    and distance mass equal the brute-force cross join's exactly
    (sf0.001 keeps the quadratic reference tractable). The oracle
    shares the grid construction; this check does not."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.joins import _RADIUS_KM

    sfd = "/root/testdata/sf0.001"
    got = (
        SPECS["join_spatial_grid"].fn(spark, sfd)
        .toPandas().set_index("site_id").sort_index()
    )
    n = _table(spark, sfd, "nation")
    e = _table(spark, sfd, "events")
    sites = n.select(
        F.col("n_nationkey").alias("site_id"),
        (-40.0 + (F.col("n_nationkey") * 7.0) % 80 + 0.5).alias("slat"),
        (-150.0 + (F.col("n_nationkey") * 13.0) % 300 + 0.5).alias("slon"),
    )
    pings = e.select(
        "event_id",
        (-40.0 + (F.col("user_id") % 800) / 10.0 + 0.05).alias("plat"),
        (
            -150.0 + ((F.col("user_id") * 7 + F.col("event_id")) % 3000) / 10.0
            + 0.05
        ).alias("plon"),
    )
    plat, slat = F.col("plat"), F.col("slat")
    h = (
        F.pow(F.sin(F.radians(slat - plat) / 2), 2)
        + F.cos(F.radians(plat))
        * F.cos(F.radians(slat))
        * F.pow(F.sin(F.radians(F.col("slon") - F.col("plon")) / 2), 2)
    )
    brute = (
        sites.crossJoin(pings)
        .select(
            "site_id",
            F.round(2 * 6371.0088 * F.asin(F.sqrt(h)), 4).alias("d"),
        )
        .filter(F.col("d") <= _RADIUS_KM)
        .groupBy("site_id")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.sum(F.floor(F.col("d") * 1000).cast("bigint")).alias("dist_m_sum"),
        )
        .toPandas().set_index("site_id").sort_index()
    )
    assert got.index.tolist() == brute.index.tolist()
    assert (got.n_within == brute.n_within).all()
    assert (got.dist_m_sum == brute.dist_m_sum).all()


def test_forecast_backtest_matches_pandas_rolling_origin(spark, sf_dir):
    """Independent recomputation: per-type daily counts shifted by 1
    and 7 days IN ROW ORDER of the sorted day index (the operator uses
    lag over days present, not calendar days — pinned here), exact
    integer MAE/MAPE sums."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_forecast_backtest"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    import pyspark.sql.functions as F

    daily = (
        _table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .toPandas()
    )
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day").reset_index(drop=True)
        n = g["count"]
        p1, p7 = n.shift(1), n.shift(7)
        m = p1.notna() & p7.notna()
        row = got.loc[et]
        assert row.n_eval == int(m.sum())
        assert row.abs_err_naive == int((n - p1)[m].abs().sum())
        assert row.abs_err_snaive == int((n - p7)[m].abs().sum())
        assert row.mape_naive_e4_sum == int(
            ((n - p1)[m].abs() * 10000 // n[m]).sum()
        )
        assert row.mape_snaive_e4_sum == int(
            ((n - p7)[m].abs() * 10000 // n[m]).sum()
        )


def test_hll_intersection_within_5pct_of_exact(spark, sf_dir):
    """The pinned contract for the rows-only sketch key: the
    inclusion-exclusion estimate lands within 5% of the exact
    intersection carried alongside, and the cohorts genuinely differ
    (est_a < est_union strictly — the r5 fixture rework that replaced
    the degenerate everyone-does-everything cohorts)."""
    row = SPECS["agg_hll_intersection"].fn(spark, sf_dir).collect()[0]
    assert row.exact_both > 0
    assert abs(row.est_intersection - row.exact_both) <= 0.05 * row.exact_both
    assert row.est_a < row.est_union
    assert row.est_b < row.est_union


def test_group_split_no_entity_leakage(spark, sf_dir):
    """The split must PARTITION the user universe (and with it every
    event); the naive row-level audit must find leaked users > 0 at
    every SF with >=2 events/user; split fractions near 80/10/10."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    pdf = (
        SPECS["sample_group_shuffle_split"].fn(spark, sf_dir)
        .toPandas().set_index("split")
    )
    e = _table(spark, sf_dir, "events")
    assert set(pdf.index) == {"train", "val", "test"}
    assert pdf.n_users.sum() == e.select("user_id").distinct().count()
    assert pdf.n_events.sum() == e.count()
    assert pdf.naive_leaky_users.nunique() == 1  # one global audit number
    assert pdf.naive_leaky_users.iloc[0] > 0
    frac = pdf.n_users / pdf.n_users.sum()
    assert 0.6 <= frac["train"] <= 0.95


def test_vocab_coverage_matches_pandas(spark, sf_dir):
    """Independent recomputation of the vocabulary economics: same
    regex tokenization, same deterministic top-K (count desc, word
    asc), exact integer token accounting per source."""
    import re

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.text import _VOCAB_K

    got = (
        SPECS["tokenizer_vocab_coverage"].fn(spark, sf_dir)
        .toPandas().set_index("source").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select("source", "text").toPandas()
    rows = []
    for src, text in zip(docs.source, docs.text):
        for w in re.split(r"[^a-z0-9]+", text.lower()):
            if w:
                rows.append((src, w))
    words = pd.DataFrame(rows, columns=["source", "word"])
    freq = (
        words.groupby("word").size().reset_index(name="cnt")
        .sort_values(["cnt", "word"], ascending=[False, True])
    )
    vocab = set(freq.head(_VOCAB_K).word)
    words["n_tok"] = words.word.map(lambda w: 1 if w in vocab else len(w))
    words["oov"] = (~words.word.isin(vocab)).astype(int)
    ref = words.groupby("source").agg(
        n_words=("word", "size"), n_tokens=("n_tok", "sum"),
        n_oov_words=("oov", "sum"),
    )
    ref["tokens_per_word_e4"] = ref.n_tokens * 10000 // ref.n_words
    assert got.index.tolist() == ref.index.tolist()
    for c in ["n_words", "n_tokens", "n_oov_words", "tokens_per_word_e4"]:
        assert (got[c] == ref[c]).all(), c


# --- wave-24 (round 5) -------------------------------------------------------


def test_quantile_sketch_error_bound(spark, sf_dir):
    """The sketch quantiles must land within the bucketing's 1/16
    relative-error bound of the EXACT quantiles, from below (the bucket
    lower bound never exceeds any member), and be monotone."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_quantile_sketch_merge"].fn(spark, sf_dir)
        .toPandas().set_index("flag")
    )
    exact = (
        _table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("flag")
        .agg(
            F.expr("percentile(c, 0.5)").alias("q50"),
            F.expr("percentile(c, 0.9)").alias("q90"),
            F.expr("percentile(c, 0.99)").alias("q99"),
        )
        .toPandas().set_index("flag")
    )
    for flag in got.index:
        g, x = got.loc[flag], exact.loc[flag]
        assert g.p50_cents <= g.p90_cents <= g.p99_cents
        for p, q in [("p50_cents", "q50"), ("p90_cents", "q90"), ("p99_cents", "q99")]:
            rel = abs(g[p] - x[q]) / x[q]
            assert rel <= 1 / 16 + 1e-9, (flag, p, g[p], x[q], rel)


def test_bloom_screen_no_false_negatives_and_exact_counts(spark, sf_dir, ddb):
    """The Bloom contract: candidates are a SUPERSET of true matches
    (bloom_hits >= exact_hits per source — no false negatives ever),
    the exact hit counts equal an independent DuckDB recomputation of
    cross-split shingle containment, and the measured FP mass stays
    under 2% of probed shingles."""
    got = (
        SPECS["dedup_bloom_screen"].fn(spark, sf_dir)
        .toPandas().set_index("source").sort_index()
    )
    assert (got.n_bloom_hits >= got.n_exact_hits).all()
    assert (got.n_false_pos == got.n_bloom_hits - got.n_exact_hits).all()
    assert got.n_false_pos.sum() <= 0.02 * got.n_shingles.sum()
    ref = ddb.execute("""
        WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                   FROM documents WHERE len(string_split(text, ' ')) >= 5),
        s AS (
          SELECT DISTINCT doc_id, source,
                 ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                       || ws[i+3] || ' ' || ws[i+4] AS sh
          FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
        ),
        h AS (SELECT DISTINCT sh FROM s WHERE doc_id % 10 < 8),
        n AS (SELECT * FROM s WHERE doc_id % 10 >= 8)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(COUNT(*) FILTER (WHERE sh IN (SELECT sh FROM h))
                    AS BIGINT) AS n_exact_hits,
               CAST(COUNT(DISTINCT CASE WHEN sh IN (SELECT sh FROM h)
                    THEN doc_id END) AS BIGINT) AS docs_flagged
        FROM n GROUP BY source ORDER BY source
    """).df().set_index("source")
    assert got.index.tolist() == ref.index.tolist()
    assert (got.n_shingles == ref.n_shingles).all()
    assert (got.n_exact_hits == ref.n_exact_hits).all()
    assert (got.docs_flagged == ref.docs_flagged).all()


def test_power_analysis_formula(spark, sf_dir):
    """Independent recomputation of the power arithmetic from pandas
    moments, and the structural sanity: detecting a 2% lift needs more
    samples than the current MDE suggests iff current MDE > 2%."""
    import math

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.events import _Z_SUM

    got = (
        SPECS["events_power_analysis"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    pdf = _table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    pdf = pdf[pdf.value.notna()]
    for et, grp in pdf.groupby("event_type"):
        n, mean, v = len(grp), grp.value.mean(), grp.value.var(ddof=1)
        row = got.loc[et]
        assert row.n == n
        assert abs(row["mean"] - round(mean, 4)) < 1e-9
        assert row.mde_rel_e4 == math.floor(
            10000 * _Z_SUM * math.sqrt(2 * v / n) / mean
        )
        assert row.n_per_arm_2pct == math.floor(
            2 * v * _Z_SUM * _Z_SUM / (0.02 * mean) ** 2
        ) + 1
        # MDE above 2% at current traffic <=> need more than n per arm
        assert (row.mde_rel_e4 > 200) == (row.n_per_arm_2pct > n)


def test_feature_hashing_accounts_for_every_feature(spark, sf_dir):
    """Mass conservation: bucket hits sum to 2x the row count (two
    features per event); distinct features across buckets sum to the
    true distinct-feature count (a feature hashes to exactly one
    bucket); load spread is non-degenerate (no bucket holds >10% of
    features)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["ml_feature_hashing"].fn(spark, sf_dir).toPandas()
    e = _table(spark, sf_dir, "events").toPandas()
    n_types = e.event_type.nunique()
    n_shards = (e.user_id % 4096).nunique()
    assert got.n_hits.sum() == 2 * len(e)
    assert got.n_feats.sum() == n_types + n_shards
    assert got.n_feats.max() <= 0.1 * (n_types + n_shards)


def test_hill_tail_matches_numpy(spark, sf_dir):
    """Independent numpy recomputation of the Hill estimator from the
    top-(k+1) order statistics with the same deterministic tiebreak."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.stats import _HILL_K

    got = (
        SPECS["stats_hill_tail_index"].fn(spark, sf_dir)
        .toPandas().set_index("flag").sort_index()
    )
    li = _table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    ).toPandas()
    li["cents"] = np.floor(li.l_extendedprice * 100).astype("int64")
    li["uid"] = li.l_orderkey * 10 + li.l_linenumber
    for flag, grp in li.groupby("l_returnflag"):
        g = grp.sort_values(["cents", "uid"], ascending=[False, True])
        top = g.head(_HILL_K + 1).cents.to_numpy()
        xk = top[_HILL_K]
        alpha = _HILL_K / (np.log(top[:_HILL_K]).sum() - _HILL_K * np.log(xk))
        row = got.loc[flag]
        assert row.k == _HILL_K
        assert row.xk_cents == xk
        assert abs(row.alpha - round(alpha, 4)) < 2e-4, (flag, row.alpha, alpha)
        assert row.alpha > 0


# --- wave-25 (round 5) -------------------------------------------------------


def test_kcenter_matches_numpy_greedy(spark, sf_dir):
    """Exact replication of the farthest-point traversal in numpy
    (sequential float64 accumulation mirroring the zip_with fold order,
    same lowest-id tie-break): identical center sequence, identical
    rounded radii, and the selection radius is non-increasing (the
    2-approximation invariant)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.ml import _KCENTER_K

    got = SPECS["sample_kcenter_coreset"].fn(spark, sf_dir).toPandas()
    pdf = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf.vec_id.to_numpy()
    X = np.stack(pdf.embedding.map(np.asarray).to_list()).astype(np.float64)

    def seqdist(A, c):
        # sequential left-to-right accumulation, matching the HOF fold
        acc = np.zeros(len(A))
        for j in range(A.shape[1]):
            acc = acc + (A[:, j] - c[j]) ** 2
        return acc

    sel = [0]
    dmin = np.full(len(X), np.inf)
    steps = [(1, int(ids[0]), 0.0)]
    for step in range(2, _KCENTER_K + 1):
        dmin = np.minimum(dmin, seqdist(X, X[sel[-1]]))
        # max dmin, ties -> lowest vec_id (ids are sorted ascending)
        best = int(np.argmax(dmin))
        steps.append((step, int(ids[best]), round(float(dmin[best]), 4)))
        sel.append(best)
    ref = pd.DataFrame(steps, columns=["step", "vec_id", "radius2_at_selection"])
    assert got.step.tolist() == ref.step.tolist()
    assert got.vec_id.tolist() == ref.vec_id.tolist(), (
        got.vec_id.tolist(), ref.vec_id.tolist()
    )
    assert np.allclose(
        got.radius2_at_selection.to_numpy()[1:],
        ref.radius2_at_selection.to_numpy()[1:],
        rtol=0, atol=2e-4,
    )
    r = got.radius2_at_selection.to_numpy()[1:]
    assert (np.diff(r) <= 1e-9).all()  # non-increasing selection radius
    assert got.vec_id.nunique() == _KCENTER_K


def test_novelty_curve_conserves_and_saturates(spark, sf_dir):
    """Reconciliation: novel shingles across deciles sum to the global
    distinct-shingle count (every shingle is novel exactly once);
    decile 0 is the most novel decile; basis points bounded."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["text_novelty_curve"].fn(spark, sf_dir)
        .toPandas().set_index("decile").sort_index()
    )
    d = _table(spark, sf_dir, "documents")
    n_distinct = (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(ws) - 4),"
                    " i -> array_join(slice(ws, i, 5), ' ')))"
                )
            ).alias("sh")
        )
        .select("sh").distinct().count()
    )
    assert got.n_novel.sum() == n_distinct
    assert ((got.novelty_bp >= 0) & (got.novelty_bp <= 10000)).all()
    assert got.loc[0, "novelty_bp"] == got.novelty_bp.max()


def test_ndcg_bounds_and_ideal(spark, sf_dir):
    """Structural invariants: 0 <= NDCG <= 1, DCG <= IDCG, and IDCG is
    positive whenever any relevant item exists in the query's pool."""
    got = SPECS["ml_eval_ndcg"].fn(spark, sf_dir).toPandas()
    assert (got.dcg_at10 <= got.idcg_at10 + 1e-9).all()
    assert ((got.ndcg_at10 >= 0) & (got.ndcg_at10 <= 1.0 + 1e-9)).all()
    assert (got.idcg_at10 > 0).all()


def test_bh_dominates_bonferroni(spark, sf_dir):
    """BH at FDR q rejects AT LEAST as much as Bonferroni at alpha = q
    (Bonferroni's threshold q/m is BH's i=1 step), the battery is the
    50 structural cells, and the reported cutoff is consistent with
    the BH step function."""
    row = SPECS["stats_benjamini_hochberg"].fn(spark, sf_dir).collect()[0]
    assert row.n_tests == 50
    assert 0 <= row.n_rejected_bonferroni <= row.n_rejected_bh <= row.n_tests
    if row.n_rejected_bh > 0:
        # cutoff p_(k) satisfies p_(k) <= k*q/m (q=0.1, e6 integers)
        assert row.bh_cutoff_p_e6 * row.n_tests * 10 <= row.n_rejected_bh * 1000000
    else:
        assert row.bh_cutoff_p_e6 is None


def test_traffic_matrix_conserves_bytes(spark, sf_dir):
    """The full matrix (pre-top-20) conserves flow mass: every flow
    lands in exactly one (src_net, dst_net) cell — cells sum to the
    corpus totals; all labels come from the prefix table."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.joins import _PREFIX_TABLE

    got = SPECS["flows_traffic_matrix"].fn(spark, sf_dir).toPandas()
    labels = {label for _, label in _PREFIX_TABLE}
    assert set(got.src_net) <= labels and set(got.dst_net) <= labels
    e = _table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n = e.count()
    byt = e.select(
        F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("b")
    ).collect()[0].b
    if len(got) < 20:  # top-20 covered the whole matrix -> exact totals
        assert got.n_flows.sum() == n
        assert got.total_bytes.sum() == byt
    else:
        assert got.n_flows.sum() <= n
        assert got.total_bytes.sum() <= byt


# --- wave-26 (round 5) -------------------------------------------------------


def test_filter_funnel_is_monotone(spark, sf_dir):
    """The funnel can only lose documents at each gate, totals
    reconcile with the corpus, and at least one gate actually bites
    somewhere (a funnel where nothing dies is a fixture bug, not a
    pipeline)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["curation_filter_funnel"].fn(spark, sf_dir).toPandas()
    assert (got.pass_len <= got.n_docs).all()
    assert (got.pass_alpha <= got.pass_len).all()
    assert (got.pass_stopword <= got.pass_alpha).all()
    assert (got.pass_dedup <= got.pass_stopword).all()
    assert got.n_docs.sum() == _table(spark, sf_dir, "documents").count()
    assert (got.pass_dedup < got.n_docs).any()
    assert ((got.keep_bp >= 0) & (got.keep_bp <= 10000)).all()


def test_skew_report_matches_pandas(spark, sf_dir):
    """Independent pandas recomputation of every reported statistic."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["maint_skew_report"].fn(spark, sf_dir).collect()[0]
    pdf = _table(spark, sf_dir, "lineitem").select("l_suppkey").toPandas()
    f = pdf.l_suppkey.value_counts()
    assert row.n_rows == len(pdf)
    assert row.n_keys == len(f)
    assert row.max_f == f.max()
    assert row.min_f == f.min()
    assert row.max_over_avg_e4 == f.max() * len(f) * 10000 // len(pdf)
    top10 = f.reset_index().sort_values(
        ["count", "l_suppkey"], ascending=[False, True]
    ).head(10)["count"].sum()
    assert row.top10_share_e6 == top10 * 1000000 // len(pdf)
    part = f.reset_index().assign(p=lambda d: d.l_suppkey % 32).groupby("p")[
        "count"
    ].sum()
    assert row.bucket_balance_e4 == part.max() * 10000 // max(part.min(), 1)


def test_minhash_incremental_is_cross_split_slice_of_batch(spark, sf_dir):
    """Every incremental hit is a cross-split pair (new x historical),
    precision is 1.0 by construction (J >= 0.8 on exact verified sets),
    and recall vs the batch-global key's cross-split pairs is >= 0.8
    (same banding operating point, so the probabilistic loss is the
    same banding loss — not a new mechanism)."""
    inc = SPECS["dedup_minhash_incremental"].fn(spark, sf_dir).toPandas()
    assert (inc.new_id % 10 >= 8).all()
    assert (inc.hist_id % 10 < 8).all()
    assert (inc.jaccard >= 0.8).all()
    batch = SPECS["dedup_minhash_pure"].fn(spark, sf_dir).toPandas()
    cross = batch[(batch.id1 % 10 < 8) != (batch.id2 % 10 < 8)]
    want = {
        (max(a, b) if max(a, b) % 10 >= 8 else min(a, b),
         min(a, b) if max(a, b) % 10 >= 8 else max(a, b))
        for a, b in zip(cross.id1, cross.id2)
    }
    want = {(n, h) for (n, h) in want if n % 10 >= 8 and h % 10 < 8}
    got_pairs = set(zip(inc.new_id, inc.hist_id))
    if want:
        recall = len(got_pairs & want) / len(want)
        assert recall >= 0.8, (recall, want - got_pairs)


def test_ann_recall_report_arithmetic_and_floor(spark, sf_dir):
    """recall_bp is exactly n_hit/k in basis points, k == 5 everywhere,
    hits never exceed k, and the average recall clears the IVF
    operating point's floor (~0.6 documented; 0.4 guard)."""
    got = SPECS["ann_recall_report"].fn(spark, sf_dir).toPandas()
    assert (got.k == 5).all()
    assert (got.n_hit <= got.k).all()
    assert (got.recall_bp == got.n_hit * 10000 // got.k).all()
    assert got.recall_bp.mean() >= 4000, got.recall_bp.tolist()


# --- wave-27 (round 5) -------------------------------------------------------


def test_scripting_result_is_minimal_power(spark, sf_dir):
    """The script's answer must be the MINIMAL covering power of two:
    2^j covers >= 90%, 2^(j-1) does not; the coverage count reconciles
    with a direct recount."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["sql_scripting_control_flow"].fn(spark, sf_dir).collect()[0]
    li = _table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    )
    n = li.count()
    cov = li.filter(F.col("c") < row.threshold_cents).count()
    cov_prev = li.filter(F.col("c") < row.threshold_cents / 2).count()
    assert row.n_total == n
    assert row.n_covered == cov
    assert cov * 10 >= n * 9
    assert cov_prev * 10 < n * 9
    assert row.threshold_cents == 2 ** row.j


def test_identifier_binding_rejects_bogus_name(spark, sf_dir):
    """IDENTIFIER parameters are ANALYZED, not string-spliced: a bogus
    table name fails resolution (no silent injection path), and the
    legit call still works in the same session."""
    from pyspark.errors import AnalysisException

    SPECS["sql_identifier_dynamic"].fn(spark, sf_dir).collect()
    with pytest.raises(AnalysisException):
        spark.sql(
            "SELECT * FROM IDENTIFIER(:tbl)", args={"tbl": "no_such_table_w27"}
        ).collect()


def test_listagg_equals_compositional_form(spark, sf_dir):
    """The native LISTAGG result must equal the collect_set ->
    array_sort -> array_join composition (the `agg_group_concat`
    recipe) on the same grouping."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_listagg"].fn(spark, sf_dir)
        .toPandas().set_index("o_orderstatus").sort_index()
    )
    ref = (
        _table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), "|"
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas().set_index("o_orderstatus").sort_index()
    )
    assert (got.priorities == ref.priorities).all()
    assert (got.n == ref.n).all()


def test_keywords_match_pandas_argmax(spark, sf_dir):
    """Independent pandas recomputation of the per-doc IDF argmax and
    the headline rollup (same e6-integer idf, same tie-breaks)."""
    import math
    import re
    from collections import Counter

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["text_keywords_topk"].fn(spark, sf_dir).toPandas()
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    doc_words = {}
    for did, text in zip(docs.doc_id, docs.text):
        ws = {
            w for w in re.split(r"[^a-z0-9]+", text.lower())
            if w and len(w) >= 3
        }
        if ws:
            doc_words[did] = ws
    df = Counter(w for ws in doc_words.values() for w in ws)
    nd = len(doc_words)
    idf = {w: math.floor(math.log(nd / c) * 1000000) for w, c in df.items()}
    top1 = Counter(
        min(ws, key=lambda w: (-idf[w], w)) for ws in doc_words.values()
    )
    ref = sorted(top1.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
    assert list(zip(got.keyword, got.n_docs_headlined)) == ref


def test_try_functions_account_for_dirt(spark, sf_dir):
    """NULL accounting reconciles with the synthesized dirt exactly:
    every 5th user divides by zero, every 7th event's numeral is
    corrupted; the surviving cast sum equals the clean-row user sum."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["sql_try_functions"].fn(spark, sf_dir).collect()[0]
    e = _table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    assert row.n_rows == e.count()
    assert row.n_div_null == e.filter(F.col("user_id") % 5 == 0).count()
    assert row.n_cast_null == e.filter(F.col("event_id") % 7 == 0).count()
    clean_sum = (
        e.filter(F.col("event_id") % 7 != 0)
        .agg(F.sum("user_id").alias("s")).collect()[0].s
    )
    assert row.cast_sum == clean_sum


# --- wave-28 (round 5) -------------------------------------------------------


def test_lttb_endpoints_and_membership(spark, sf_dir):
    """The downsample must keep BOTH series endpoints exactly, every
    non-centroid picked point must be a real (day, count) point of the
    source series, and the output is bounded by B + 4."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.windows import _LTTB_BUCKETS

    got = SPECS["ts_downsample_lttb"].fn(spark, sf_dir).toPandas()
    daily = (
        _table(spark, sf_dir, "events")
        .groupBy(
            (F.unix_timestamp(F.to_date("ts").cast("timestamp")) / 86400)
            .cast("bigint")
            .alias("x")
        )
        .agg(F.count(F.lit(1)).alias("y"))
        .toPandas()
        .sort_values("x")
    )
    assert len(got) <= _LTTB_BUCKETS + 4
    first, last = daily.iloc[0], daily.iloc[-1]
    assert ((got.x_day == first.x) & (got.y == first.y)).any()
    assert ((got.x_day == last.x) & (got.y == last.y)).any()
    real = set(zip(daily.x, daily.y))
    interior = got[(got.bucket >= 1) & (got.bucket <= _LTTB_BUCKETS - 2)]
    assert all((x, y) in real for x, y in zip(interior.x_day, interior.y))
    assert got.x_day.is_unique or got.x_day.nunique() >= len(got) - 2


def test_association_rules_match_pandas(spark, sf_dir):
    """Exact pandas recomputation of every support/confidence/lift
    integer, plus the structural lift sanity (lift > 0, symmetric
    support)."""
    from itertools import combinations

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_association_rules"].fn(spark, sf_dir)
        .toPandas().set_index(["ante", "cons"]).sort_index()
    )
    e = _table(spark, sf_dir, "events").select("user_id", "event_type").toPandas()
    baskets = e.drop_duplicates()
    n_users = baskets.user_id.nunique()
    singles = baskets.event_type.value_counts().to_dict()
    from collections import Counter

    pair_n = Counter()
    for _, grp in baskets.groupby("user_id"):
        for a, b in combinations(sorted(grp.event_type), 2):
            pair_n[(a, b)] += 1
    for (a, b), n in pair_n.items():
        if n * 100 < n_users:
            assert (a, b) not in got.index
            continue
        row = got.loc[(a, b)]
        assert row.n_both == n
        assert row.support_e6 == n * 1000000 // n_users
        assert row.confidence_e6 == n * 1000000 // singles[a]
        assert row.lift_e6 == n * n_users * 1000000 // (singles[a] * singles[b])
        assert row.lift_e6 > 0


def test_woe_iv_terms_nonnegative_and_reconcile(spark, sf_dir):
    """(p_share - n_share) and ln(p_share/n_share) always share a sign,
    so every IV term is >= -1 (e6, floor slack); bin counts reconcile
    with the corpus; WoE recomputed in python matches."""
    import math

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["ml_feature_woe_binning"].fn(spark, sf_dir).toPandas()
    assert (got.iv_term_e6 >= -1).all()  # floor of a >=0 quantity
    e = _table(spark, sf_dir, "events").filter("value IS NOT NULL").toPandas()
    assert got.n_pos.sum() + got.n_neg.sum() == len(e)
    tp, tn = got.n_pos.sum(), got.n_neg.sum()
    for _, r in got.iterrows():
        woe = math.floor(
            math.log((r.n_pos / tp) / (r.n_neg / tn)) * 1000000
        )
        assert abs(r.woe_e6 - woe) <= 1  # engine double ulp at the floor


def test_raw_log_parse_accounts_for_corruption(spark, sf_dir):
    """Malformed lines are exactly the every-13th corrupted ones;
    parsed per-level counts reconcile with the source events."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["scan_text_regex_parse"].fn(spark, sf_dir)
        .toPandas().set_index("level")
    )
    e = _table(spark, sf_dir, "events")
    n_corrupt = e.filter(F.col("event_id") % 13 == 0).count()
    assert got.loc["_MALFORMED", "n_lines"] == n_corrupt
    ref = (
        e.filter(F.col("event_id") % 13 != 0)
        .groupBy(F.upper(F.substring("event_type", 1, 4)).alias("level"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .toPandas().set_index("level")
    )
    clean = got.drop("_MALFORMED")
    assert clean.n_lines.sort_index().tolist() == ref.n_lines.sort_index().tolist()
    assert clean.n_users.sort_index().tolist() == ref.n_users.sort_index().tolist()


def test_analyze_stats_exact_counts_ndv_bounds(spark, sf_dir):
    """Row count from the catalog is EXACT; per-column NDV (an HLL
    estimate) lands within 10% of the true distinct count; the
    projection has no nulls."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["maint_analyze_stats"].fn(spark, sf_dir).toPandas().set_index("column")
    o = _table(spark, sf_dir, "orders")
    n = o.count()
    assert (got.n_rows == n).all()
    assert (got.n_nulls == 0).all()
    for c in got.index:
        exact = o.select(c).distinct().count()
        assert abs(got.loc[c, "ndv"] - exact) <= max(0.1 * exact, 2), (c, exact)


# --- wave-29 (round 5) -------------------------------------------------------


def test_canonical_doc_reconciles_with_clusters(spark, sf_dir):
    """Every multi-member CC cluster appears exactly once, the
    representative IS the longest member (ties to lowest id), and the
    kept/total char accounting reconciles."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["dedup_canonical_doc"].fn(spark, sf_dir)
        .toPandas().set_index("cluster_id").sort_index()
    )
    labels = SPECS["dedup_cluster_cc"].fn(spark, sf_dir).toPandas()
    docs = (
        _table(spark, sf_dir, "documents").select("doc_id", "n_chars").toPandas()
    )
    m = labels.merge(docs, on="doc_id")
    multi = m.groupby("cluster_id").filter(lambda g: len(g) >= 2)
    assert set(got.index) == set(multi.cluster_id)
    for cid, grp in multi.groupby("cluster_id"):
        best = grp.sort_values(["n_chars", "doc_id"], ascending=[False, True]).iloc[0]
        row = got.loc[cid]
        assert row.rep_doc_id == best.doc_id
        assert row.kept_chars == best.n_chars
        assert row.n_members == len(grp)
        assert row.total_chars == grp.n_chars.sum()
        assert row.kept_chars == grp.n_chars.max()


def test_silhouette_matches_numpy_and_range(spark, sf_dir):
    """Numpy replication of the simplified silhouette (centroid means,
    euclidean distances, same (b-a)/max(a,b)); values in [-1, 1]."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["emb_cluster_silhouette"].fn(spark, sf_dir)
        .toPandas().set_index("label").sort_index()
    )
    pdf = _table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).toPandas()
    X = np.stack(pdf.embedding.map(np.asarray).to_list()).astype(np.float64)
    lab = pdf.label.to_numpy()
    cents = {l: X[lab == l].mean(axis=0) for l in np.unique(lab)}
    svals = {l: [] for l in cents}
    for i in range(len(X)):
        d = {l: np.sqrt(((X[i] - c) ** 2).sum()) for l, c in cents.items()}
        a = d[lab[i]]
        b = min(v for l, v in d.items() if l != lab[i])
        svals[lab[i]].append((b - a) / max(a, b))
    assert ((got.mean_silhouette >= -1) & (got.mean_silhouette <= 1)).all()
    for l, vals in svals.items():
        assert got.loc[l, "n"] == len(vals)
        assert abs(got.loc[l, "mean_silhouette"] - round(float(np.mean(vals)), 4)) < 2e-3
        assert abs(got.loc[l, "min_silhouette"] - round(float(np.min(vals)), 4)) < 2e-3


def test_ratio_delta_method_matches_numpy(spark, sf_dir):
    """Numpy replication of the delta-method SE and the pinned
    divergence: the naive mean-of-ratios differs from the true ratio
    of means (the error the key exists to expose)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_ratio_delta_method"].fn(spark, sf_dir).collect()[0]
    pdf = (
        _table(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("user_id", "value")
        .toPandas()
    )
    g = pdf.groupby("user_id").value.agg(["sum", "count"])
    x, y = g["sum"].to_numpy(), g["count"].to_numpy(dtype=float)
    n = len(g)
    r = x.mean() / y.mean()
    se = (
        np.sqrt(
            (np.var(x, ddof=1) + r * r * np.var(y, ddof=1)
             - 2 * r * np.cov(x, y, ddof=1)[0, 1]) / n
        )
        / y.mean()
    )
    assert row.n_users == n
    assert abs(row.ratio - round(r, 4)) < 1e-9
    assert abs(row.se_delta - round(se, 6)) < 2e-6
    assert row.naive_ratio_of_means != row.ratio  # Jensen gap is real


def test_port_services_conserve_flows(spark, sf_dir):
    """Classification drops nothing: flows and bytes sum to the corpus
    totals; shares bounded; 'other' exists (1024 ports, 7 mapped)."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["flows_port_services"].fn(spark, sf_dir).toPandas()
    e = _table(spark, sf_dir, "events").filter("value IS NOT NULL")
    assert got.n_flows.sum() == e.count()
    byt = e.select(
        F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("b")
    ).collect()[0].b
    assert got.total_bytes.sum() == byt
    assert "other" in set(got.service)
    assert ((got.byte_share_bp >= 0) & (got.byte_share_bp <= 10000)).all()


def test_neyman_allocates_exact_budget_optimally(spark, sf_dir):
    """The allocation sums EXACTLY to the budget, follows N_h*sigma_h
    ordering (monotone in the weight), and matches a python
    largest-remainder replication on the same e6 integer weights."""
    import math

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.ml import _NEYMAN_N

    got = (
        SPECS["sample_neyman_allocation"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    assert got.n_alloc.sum() == _NEYMAN_N
    pdf = (
        _table(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("event_type", "value")
        .toPandas()
    )
    wts = {}
    for et, grp in pdf.groupby("event_type"):
        sd = grp.value.std(ddof=1)
        wts[et] = math.floor(len(grp) * sd * 1000000)
    tot = sum(wts.values())
    base = {et: w * _NEYMAN_N // tot for et, w in wts.items()}
    rem = {et: w * _NEYMAN_N % tot for et, w in wts.items()}
    leftover = _NEYMAN_N - sum(base.values())
    order = sorted(wts, key=lambda et: (-rem[et], et))
    for i, et in enumerate(order):
        want = base[et] + (1 if i < leftover else 0)
        assert got.loc[et, "n_alloc"] == want, (et, want, got.loc[et, "n_alloc"])


# --- wave-30 (round 5) -------------------------------------------------------


def test_spearman_matches_pandas_average_ranks(spark, sf_dir):
    """Independent replication: pandas rank(method='average') per group,
    then Pearson corr of the rank columns — the textbook Spearman with
    tie correction. Also: |rho| <= 1."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["stats_spearman_corr"].fn(spark, sf_dir)
        .toPandas().set_index("grp").sort_index()
    )
    li = _table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    for grp, g in li.groupby("l_returnflag"):
        rq = g.l_quantity.rank(method="average")
        rp = g.l_extendedprice.rank(method="average")
        rho = rq.corr(rp)  # Pearson on average ranks == Spearman
        assert abs(got.loc[grp, "spearman_rho"] - round(rho, 4)) <= 1e-4, grp
        assert got.loc[grp, "n"] == len(g)
        assert abs(got.loc[grp, "spearman_rho"]) <= 1.0


def test_regression_eval_matches_numpy(spark, sf_dir):
    """Numpy replication of the even/odd split baseline metrics."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ml_eval_regression"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    ev = ev[ev.value != 0]  # MAPE undefined at a=0; key excludes them
    train = ev[ev.event_id % 2 == 0].groupby("event_type").value.mean()
    test = ev[ev.event_id % 2 == 1]
    for et, g in test.groupby("event_type"):
        a = g.value.to_numpy()
        p = train[et]
        rmse = np.sqrt(np.mean((a - p) ** 2))
        mae = np.mean(np.abs(a - p))
        r2 = 1 - np.sum((a - p) ** 2) / np.sum((a - a.mean()) ** 2)
        mape = 100.0 * np.mean(np.abs((a - p) / a))
        row = got.loc[et]
        assert row.n_test == len(a)
        for name, want in [("rmse", rmse), ("mae", mae), ("r2", r2),
                           ("mape_pct", mape)]:
            assert abs(row[name] - round(want, 4)) <= 2e-4, (et, name)


def test_circular_stats_numpy_and_wraparound(spark, sf_dir):
    """Numpy replication of the circular moments; R in [0, 1],
    mean_hour in [0, 24); circ_variance == 1 - R."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_circular_stats"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("event_type", "ts").toPandas()
    secs = (
        ev.ts.dt.hour * 3600 + ev.ts.dt.minute * 60 + ev.ts.dt.second
    ).to_numpy()
    theta = 2 * np.pi * secs / 86400.0
    for et, idx in ev.groupby("event_type").groups.items():
        th = theta[np.asarray(idx)]
        s, c = np.sin(th).mean(), np.cos(th).mean()
        r = np.hypot(s, c)
        ang = np.arctan2(s, c) % (2 * np.pi)
        row = got.loc[et]
        assert abs(row.resultant_len - round(r, 4)) <= 1e-4
        assert abs(row.mean_hour - round(ang / (2 * np.pi) * 24, 4)) <= 1e-3
        assert 0 <= row.resultant_len <= 1
        assert 0 <= row.mean_hour < 24
        assert abs(row.circ_variance - round(1 - r, 4)) <= 2e-4


def test_zipf_slope_matches_numpy_polyfit(spark, sf_dir):
    """Numpy polyfit replication of the top-100 log-log OLS, from an
    independently-built (collections.Counter) frequency table."""
    import collections

    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["text_zipf_slope"].fn(spark, sf_dir)
        .toPandas().set_index("lang").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    for lang, g in docs.groupby("lang"):
        cnt = collections.Counter(
            w for t in g.text for w in t.lower().split(" ") if w
        )
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        freqs = np.array([f for _, f in ranked], dtype=float)
        ranks = np.arange(1, len(ranked) + 1, dtype=float)
        slope = np.polyfit(np.log(ranks), np.log(freqs), 1)[0]
        row = got.loc[lang]
        assert row.n_vocab == len(cnt), lang
        assert abs(row.zipf_slope - round(slope, 4)) <= 2e-4, lang
        assert row.zipf_slope < 0  # frequency falls with rank
        assert 0 <= row.fit_r2 <= 1


def test_features_scaling_recipe_invariants(spark, sf_dir):
    """Scaling-recipe sanity from first principles: min-max mean in
    [0, 1]; median between q1-ish and q3-ish bounds (iqr >= 0); numpy
    replication of all three scaled means (np.percentile 'linear' ==
    Spark `percentile` == DuckDB quantile_cont)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["features_scaling"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    for et, g in ev.groupby("event_type"):
        v = g.value.to_numpy()
        q1, med, q3 = np.percentile(v, [25, 50, 75])
        mu, sigma = v.mean(), v.std(ddof=1)
        mm = (v - v.min()) / (v.max() - v.min())
        row = got.loc[et]
        assert row["n"] == len(v)
        assert 0 <= row.minmax_mean <= 1
        assert row.iqr >= 0
        # row["median"]: attribute access collides with Series.median()
        assert abs(row["median"] - round(med, 4)) <= 1e-4
        assert abs(row.minmax_mean - round(mm.mean(), 4)) <= 1e-4
        assert abs(row.z_abs_mean - round(np.abs((v - mu) / sigma).mean(), 4)) <= 1e-4
        assert abs(
            row.robust_abs_mean - round(np.abs((v - med) / (q3 - q1)).mean(), 4)
        ) <= 1e-4


# --- wave-31 (round 5) -------------------------------------------------------


def test_ppswor_is_exact_weighted_top200(spark, sf_dir):
    """Pure-numpy replication of the Efraimidis–Spirakis draw: the
    selected 200 order keys must be EXACTLY the 200 smallest rounded
    exponential keys (ties by order key)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.ml import _M32, _MULT

    got = SPECS["sample_ppswor"].fn(spark, sf_dir).toPandas()
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).toPandas()
    k = o.o_orderkey.to_numpy().astype(object)  # python ints: no overflow
    u = ((k * _MULT) % _M32 + 1.0) / (_M32 + 1.0)
    es = np.round(
        -np.log(u.astype(float)) / o.o_totalprice.to_numpy(), 9
    )
    order = np.lexsort((o.o_orderkey.to_numpy(), es))
    want = set(o.o_orderkey.to_numpy()[order[:200]])
    assert set(got.o_orderkey) == want
    assert len(got) == 200
    # heavier orders are sampled more often than a uniform draw would:
    # the mean weight of the PPS sample exceeds the population mean
    assert got.weight.mean() > o.o_totalprice.mean()


def test_levene_matches_numpy(spark, sf_dir):
    """Numpy Brown–Forsythe replication (median centers, one-way F on
    absolute deviations); W >= 0 and dfs reconcile."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_levene_test"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    groups = [
        np.abs(g.value.to_numpy() - np.percentile(g.value, 50))
        for _, g in ev.groupby("event_type")
    ]
    k = len(groups)
    nn = sum(len(g) for g in groups)
    gm = np.concatenate(groups).mean()
    ss_b = sum(len(g) * (g.mean() - gm) ** 2 for g in groups)
    ss_w = sum(((g - g.mean()) ** 2).sum() for g in groups)
    w = ((nn - k) / (k - 1)) * ss_b / ss_w
    assert row.k_groups == k and row.n_total == nn
    assert row.df1 == k - 1 and row.df2 == nn - k
    assert abs(row.levene_w - round(w, 4)) <= 2e-4
    assert row.levene_w >= 0


def test_lift_table_invariants_and_pandas_replica(spark, sf_dir):
    """Gains-table laws: capture is nondecreasing and ends at 1.0;
    decile sizes differ by <= 1; pandas replication of capture/lift
    from an independent exact NTILE."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ml_eval_lift"].fn(spark, sf_dir)
        .toPandas().sort_values("decile").reset_index(drop=True)
    )
    assert list(got.decile) == list(range(1, 11))
    assert (np.diff(got.cum_capture) >= -1e-12).all()
    assert abs(got.cum_capture.iloc[-1] - 1.0) <= 1e-9
    assert abs(got.cum_lift.iloc[-1] - 1.0) <= 1e-9
    assert got.n.max() - got.n.min() <= 1
    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    ev = ev.sort_values(["value", "event_id"], ascending=[False, True]).reset_index(
        drop=True
    )
    n = len(ev)
    q, r = divmod(n, 10)
    sizes = [q + 1] * r + [q] * (10 - r)
    ev["decile"] = np.repeat(np.arange(1, 11), sizes)
    ev["label"] = (ev.event_type == "purchase").astype(int)
    d = ev.groupby("decile").agg(n=("label", "size"), pos=("label", "sum"))
    cum_pos = d.pos.cumsum()
    want_capture = (cum_pos / d.pos.sum()).round(4)
    want_lift = ((cum_pos / d.n.cumsum()) / (d.pos.sum() / d.n.sum())).round(4)
    assert np.allclose(got.cum_capture, want_capture, atol=1e-4)
    assert np.allclose(got.cum_lift, want_lift, atol=1e-4)
    assert (got.n.to_numpy() == d.n.to_numpy()).all()


def test_cusum_closed_form_equals_textbook_recursion(spark, sf_dir):
    """THE identity pin: the window-function closed form
    S_t = P_t - min(0, running_min(P)) must equal the textbook
    recursion S_t = max(0, S_{t-1} + z_t - k) replayed in Python."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["ts_cusum_anomaly"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select("event_type", "ts").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"))
        .groupby(["event_type", "day"])
        .size()
        .rename("cnt")
        .reset_index()
    )
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("day")
        c = g.cnt.to_numpy(dtype=float)
        nd = len(c)
        mu = c.sum() / nd
        sd = ((c * c).sum() - c.sum() * c.sum() / nd) / (nd - 1)
        sd = sd ** 0.5
        s, out = 0.0, []
        for x in c:
            s = max(0.0, s + (x - mu) / sd - 0.5)
            out.append(s)
        rows = got[got.event_type == et].sort_values("day")
        assert len(rows) == nd
        for want, have, flag in zip(out, rows.cusum, rows.is_drift):
            assert abs(have - round(want, 4)) <= 2e-4
            assert flag == (want > 3.0)


def test_wordpiece_canonical_examples_and_spark_economics(spark, sf_dir):
    """Micro-pins of the greedy longest-match-first algorithm on the
    canonical BERT example shapes, then full-corpus reconciliation of
    the Spark economics against a pandas replay."""
    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.text import (
        build_wordpiece_vocab,
        wordpiece_encode,
    )

    v = {"un", "##aff", "##able", "runn", "##ing", "r", "##u", "##n"}
    assert wordpiece_encode("unaffable", v) == ["un", "##aff", "##able"]
    assert wordpiece_encode("running", v) == ["runn", "##ing"]
    assert wordpiece_encode("run", v) == ["r", "##u", "##n"]
    assert wordpiece_encode("xyz", v) == ["[UNK]"]  # unmatchable start
    assert wordpiece_encode("runx", v) == ["[UNK]"]  # unmatchable tail
    assert wordpiece_encode("a" * 101, v) == ["[UNK]"]  # length guard

    got = (
        SPECS["tokenizer_wordpiece_apply"].fn(spark, sf_dir)
        .toPandas().set_index("source").sort_index()
    )
    vocab = set(build_wordpiece_vocab(spark, sf_dir))
    docs = _table(spark, sf_dir, "documents").select("source", "text").toPandas()
    memo = {}
    for src, g in docs.groupby("source"):
        nw = nt = nu = 0
        for t in g.text:
            for w in t.lower().split(" "):
                if not w:
                    continue
                if w not in memo:
                    enc = wordpiece_encode(w, vocab)
                    memo[w] = (len(enc), enc == ["[UNK]"])
                nw += 1
                nt += memo[w][0]
                nu += int(memo[w][1])
        row = got.loc[src]
        assert (row.n_words, row.n_tokens, row.n_unk_words) == (nw, nt, nu), src
        assert row.tokens_per_word == round(nt / nw, 4)
    # the shrunk vocab must actually exercise splitting
    assert (got.n_tokens > got.n_words).all()


# --- wave-32 (round 5) -------------------------------------------------------


def test_theil_decomposition_numpy(spark, sf_dir):
    """Numpy Theil replication + the additive decomposition law
    total == between + within (within rounding)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["agg_theil_index"].fn(spark, sf_dir).toPandas().iloc[0]
    o = _table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice").toPandas()
    c = _table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey").toPandas()
    n = _table(spark, sf_dir, "nation").select("n_nationkey", "n_name").toPandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    x = j.o_totalprice.to_numpy()
    mu = x.mean()
    t_total = np.mean(x / mu * np.log(x / mu))
    t_between = 0.0
    for _, g in j.groupby("n_name"):
        xg = g.o_totalprice.to_numpy()
        t_between += len(xg) / len(x) * (xg.mean() / mu) * np.log(xg.mean() / mu)
    assert row.n == len(x)
    assert abs(row.theil_total - round(t_total, 4)) <= 2e-4
    assert abs(row.theil_between - round(t_between, 4)) <= 2e-4
    assert abs(row.theil_total - (row.theil_between + row.theil_within)) <= 3e-4
    assert row.theil_total >= 0 and row.theil_between >= 0


def test_interarrival_matches_pandas(spark, sf_dir):
    """Pandas replication of per-(type,user) µs gaps and their stats."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_interarrival_stats"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "ts"
    ).toPandas()
    ev["t_us"] = ev.ts.astype("int64") // 1000  # ns -> µs
    ev = ev.sort_values(["event_type", "user_id", "ts", "event_id"])
    ev["gap"] = ev.groupby(["event_type", "user_id"]).t_us.diff()
    gaps = ev.dropna(subset=["gap"])
    for et, g in gaps.groupby("event_type"):
        v = g.gap.to_numpy()
        row = got.loc[et]
        assert row.n_gaps == len(v)
        assert abs(row.mean_gap_s - round(v.mean() / 1e6, 4)) <= 1e-4
        assert abs(row.p50_gap_s - round(np.percentile(v, 50) / 1e6, 4)) <= 1e-4
        assert abs(row.p90_gap_s - round(np.percentile(v, 90) / 1e6, 4)) <= 1e-4
        assert row.min_gap_s == round(v.min() / 1e6, 4)
        assert row.max_gap_s == round(v.max() / 1e6, 4)
        assert row.min_gap_s >= 0  # ordering sanity


def test_confusion_matches_pandas_and_micro_accuracy(spark, sf_dir):
    """Pandas replication of the bucket-majority baseline confusion
    metrics; Σtp == correct predictions == Σ n_actual·recall."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ml_eval_confusion_multi"].fn(spark, sf_dir)
        .toPandas().set_index("cls").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    ev["vb"] = (ev.value // 100).astype(int)
    train = ev[ev.event_id % 2 == 0]
    model = {}
    for vb, g in train.groupby("vb"):
        cnt = g.event_type.value_counts()
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        model[vb] = best
    gcnt = train.event_type.value_counts()
    fallback = sorted(gcnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    test = ev[ev.event_id % 2 == 1].copy()
    test["pred"] = test.vb.map(model).fillna(fallback)
    for cls in test.event_type.unique():
        na = (test.event_type == cls).sum()
        np_ = (test.pred == cls).sum()
        tp = ((test.event_type == cls) & (test.pred == cls)).sum()
        row = got.loc[cls]
        assert (row.n_actual, row.n_pred, row.tp) == (na, np_, tp), cls
        assert row.recall == round(tp / na, 4)
        prec = 0.0 if np_ == 0 else tp / np_
        assert row.precision == round(prec, 4)
        f1 = 0.0 if tp == 0 else 2.0 * tp / (np_ + na)
        assert row.f1 == round(f1, 4)
    assert got.tp.sum() == (test.event_type == test.pred).sum()
    assert got.n_actual.sum() == len(test)
    assert got.n_pred.sum() <= len(test)  # preds to non-actual classes excluded


def test_t_closeness_matches_float_tvd_and_ladder(spark, sf_dir):
    """Float TVD replication of the integer-exact audit, plus ladder
    laws: group count is threshold-independent and violations are
    monotone non-increasing in t."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["privacy_t_closeness"].fn(spark, sf_dir)
        .toPandas().set_index("t_bp").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "value", "event_type").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    ev["vb"] = (ev.value.fillna(-100) // 100).astype(int)
    glob = ev.event_type.value_counts(normalize=True)
    rows = []
    for (_, _), g in ev.groupby(["day", "vb"]):
        p = g.event_type.value_counts(normalize=True)
        tvd = 0.5 * sum(
            abs(p.get(s, 0.0) - glob[s]) for s in glob.index
        )
        rows.append((len(g), tvd))
    assert (got.n_groups == len(rows)).all()
    for t_bp in (2000, 3500, 5000):
        t = t_bp / 10000.0
        above = [(n, tvd) for n, tvd in rows if tvd > t + 1e-12]
        row = got.loc[t_bp]
        assert row.n_groups_above == len(above), t_bp
        assert row.n_rows_above == sum(n for n, _ in above)
        assert row.rows_bp == 10000 * sum(n for n, _ in above) // sum(
            n for n, _ in rows
        )
    assert got.n_groups_above.is_monotonic_decreasing
    assert got.n_rows_above.is_monotonic_decreasing


def test_wholefile_roundtrip_hashlib(spark, sf_dir):
    """The whole-file read-back checksums must equal hashlib.md5 of the
    independently reconstructed per-source content; one file per
    source; n_chars reconciles with the doc lengths + separators."""
    import hashlib

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["scan_text_wholefile"].fn(spark, sf_dir)
        .toPandas().set_index("file_name").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    ).toPandas()
    assert len(got) == docs.source.nunique()
    for src, g in docs.groupby("source"):
        content = "\n".join(g.sort_values("doc_id").text)
        row = got.loc[f"{src}.txt"]
        assert row.n_chars == len(content)
        assert row.content_md5 == hashlib.md5(content.encode()).hexdigest()


# --- wave-33 (round 5) -------------------------------------------------------


def test_wilcoxon_matches_numpy(spark, sf_dir):
    """Numpy replication: paired per-user means, 1e-6-rounded diffs,
    average ranks of |d|, W+/W-/z. Also W+ + W- == n(n+1)/2."""
    import numpy as np
    import pandas as pd

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_wilcoxon_signed_rank"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    ).toPandas().dropna(subset=["value"])
    x = ev[ev.event_id % 2 == 0].groupby("user_id").value.mean()
    y = ev[ev.event_id % 2 == 1].groupby("user_id").value.mean()
    d = (y - x).dropna().round(6)
    d = d[d != 0]
    ranks = pd.Series(np.abs(d.to_numpy())).rank(method="average").to_numpy()
    w_plus = ranks[d.to_numpy() > 0].sum()
    w_minus = ranks[d.to_numpy() < 0].sum()
    n = len(d)
    z = (w_plus - n * (n + 1) / 4.0) / np.sqrt(n * (n + 1) * (2 * n + 1) / 24.0)
    assert row.n_pairs == n
    assert abs(row.w_plus - round(w_plus, 4)) <= 1e-3
    assert abs(row.w_minus - round(w_minus, 4)) <= 1e-3
    assert abs(row.z - round(z, 4)) <= 2e-4
    assert abs((row.w_plus + row.w_minus) - n * (n + 1) / 2.0) <= 1e-6


def test_adamic_adar_matches_pure_python(spark, sf_dir):
    """Pure-python link-prediction replication (dict adjacency): the
    top-20 non-edges by (rounded score, u, v) must agree exactly."""
    import math

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["graph_adamic_adar"].fn(spark, sf_dir)
        .toPandas().reset_index(drop=True)
    )
    ev = _table(spark, sf_dir, "events").select("user_id", "event_id").toPandas()
    edges = set()
    for u, e in zip(ev.user_id, ev.event_id):
        a, b = f"h{u % 1000}", f"h{(u + e) % 1000}"
        if a != b:
            edges.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scores = {}
    for z, nbrs in adj.items():
        dg = len(nbrs)
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for jj in range(i + 1, len(ns)):
                p = (ns[i], ns[jj])
                s, c = scores.get(p, (0.0, 0))
                scores[p] = (s + 1.0 / math.log(dg), c + 1)
    nonedges = [
        (u, v, round(s, 6), c)
        for (u, v), (s, c) in scores.items()
        if (u, v) not in edges
    ]
    nonedges.sort(key=lambda t: (-t[2], t[0], t[1]))
    want = nonedges[:20]
    assert len(got) == len(want)
    for i, (u, v, s, c) in enumerate(want):
        assert (got.u[i], got.v[i]) == (u, v), i
        assert got.aa_score[i] == round(s, 4)
        assert got.common_nbrs[i] == c


def test_rolling_corr_matches_pandas(spark, sf_dir):
    """pandas .rolling(7).corr replication; values in [-1, 1]."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ts_rolling_corr"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.strftime("%Y-%m-%d"))
        .pivot_table(index="day", columns="event_type", aggfunc="size", fill_value=0)
        .sort_index()
    )
    want = daily["click"].rolling(7).corr(daily["purchase"]).dropna()
    assert list(got.index) == list(want.index)
    for day in want.index:
        assert abs(got.loc[day, "rolling_corr"] - round(want[day], 4)) <= 2e-4
        assert -1 <= got.loc[day, "rolling_corr"] <= 1
        assert got.loc[day, "n_days"] == 7


def test_exporter_dedup_conservation(spark, sf_dir):
    """Pandas replication + conservation laws: duplicate records =
    r2's overlap size; inflation = bytes of the duplicated copies."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["flows_exporter_dedup"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    ).toPandas().dropna(subset=["value"])
    ev["sa"] = "10.0." + (ev.user_id % 50).astype(str)
    ev["da"] = "10.0." + ((ev.user_id + ev.event_id) % 50).astype(str)
    ev["minute_b"] = ev.ts.astype("int64") // 1000 // 60000000
    ev["ibyt"] = (ev.value * 1000).apply(int)  # floor of positive values
    import pandas as pd

    r1 = ev[["sa", "da", "minute_b", "ibyt"]]
    r2 = ev[ev.user_id % 3 == 0][["sa", "da", "minute_b", "ibyt"]]
    seen = pd.concat([r1, r2])
    uniq = seen.drop_duplicates()
    assert row.n_records == len(seen)
    assert row.n_unique_flows == len(uniq)
    assert row.n_dup_records == len(seen) - len(uniq)
    assert row.bytes_reported == seen.ibyt.sum()
    assert row.bytes_actual == uniq.ibyt.sum()
    assert row.bytes_reported >= row.bytes_actual
    copies = seen.groupby(["sa", "da", "minute_b", "ibyt"]).size()
    assert row.n_multi_exporter == (copies > 1).sum()


def test_compression_ratio_zlib_replication(spark, sf_dir):
    """zlib replication of the per-source economics + the signal's
    micro-behavior: pathological repetition compresses past the 4.0
    threshold, the fixture prose does not."""
    import zlib

    from nfdump2clickhouse_spark.catalog import table as _table

    def ratio(t: str) -> float:
        raw = t.encode()
        return len(raw) / max(len(zlib.compress(raw, 6)), 1)

    assert ratio("spam ham " * 400) > 4.0
    assert ratio("the quick brown fox jumps over the lazy dog") < 2.0

    got = (
        SPECS["text_compression_ratio"].fn(spark, sf_dir)
        .toPandas().set_index("source").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select("source", "text").toPandas()
    for src, g in docs.groupby("source"):
        rs = g.text.map(ratio)
        row = got.loc[src]
        assert row.n_docs == len(g)
        assert row.mean_ratio == round(rs.mean(), 4)
        assert row.min_ratio == round(rs.min(), 4)
        assert row.max_ratio == round(rs.max(), 4)
        assert row.share_repetitive == round((rs > 4.0).mean(), 4)


# --- wave-34 (round 5) -------------------------------------------------------


def test_wilson_interval_laws_and_numpy(spark, sf_dir):
    """Wilson CI laws: lo <= p_hat <= hi, interval inside [0,1],
    narrower at larger n (checked via the closed form); numpy
    replication of every row."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["stats_binomial_ci_wilson"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    daily = ev.assign(day=ev.ts.dt.strftime("%Y-%m-%d")).groupby("day").agg(
        n=("event_type", "size"),
        k=("event_type", lambda s: (s == "purchase").sum()),
    )
    z = 1.96
    for _, r in got.iterrows():
        n, k = daily.loc[r.day, "n"], daily.loc[r.day, "k"]
        assert (r.n, r.conversions) == (n, k)
        p = k / n
        center = p + z * z / (2 * n)
        half = z * np.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        denom = 1 + z * z / n
        assert r.ci_lo == round((center - half) / denom, 4)
        assert r.ci_hi == round((center + half) / denom, 4)
        assert 0 <= r.ci_lo <= r.p_hat <= r.ci_hi <= 1


def test_frequency_capping_pandas(spark, sf_dir):
    """Pandas replication of the capping arithmetic; waste_bp consistent
    with its integer definition."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_frequency_capping"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    ).toPandas()
    views = ev[ev.event_type == "view"].assign(
        day=lambda d: d.ts.dt.strftime("%Y-%m-%d")
    )
    exp = views.groupby(["day", "user_id"]).size().rename("c").reset_index()
    for day, g in exp.groupby("day"):
        row = got.loc[day]
        capped = (g.c - 5).clip(lower=0).sum()
        assert row.n_users == len(g)
        assert row.n_exposures == g.c.sum()
        assert row.n_users_over_cap == (g.c > 5).sum()
        assert row.n_capped_exposures == capped
        assert row.waste_bp == 10000 * capped // g.c.sum()


def test_mrr_matches_numpy(spark, sf_dir):
    """Numpy GEMM replication of the label-match retrieval metrics."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ml_ranking_mrr"].fn(spark, sf_dir).toPandas().iloc[0]
    emb = (
        _table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    ids = emb.vec_id.to_numpy()
    labels = emb.label.to_numpy()
    rrs, h1, h5 = [], 0, 0
    qidx = np.where(ids < 20)[0]
    for qi in qidx:
        cos = np.round(Xn @ Xn[qi], 4)
        mask = ids != ids[qi]
        order = np.lexsort((ids[mask], -cos[mask]))
        rel = labels[mask][order] == labels[qi]
        pos = np.where(rel)[0]
        if len(pos) == 0:
            rrs.append(0.0)
            continue
        first = pos[0] + 1
        rrs.append(1.0 / first)
        h1 += int(first == 1)
        h5 += int(first <= 5)
    assert row.n_queries == len(qidx)
    assert abs(row.mrr - round(float(np.mean(rrs)), 4)) <= 2e-4
    assert row.hit_at_1 == round(h1 / len(qidx), 4)
    assert row.hit_at_5 == round(h5 / len(qidx), 4)
    assert 0 <= row.mrr <= 1 and row.hit_at_1 <= row.hit_at_5


def test_benford_shares_and_chi2(spark, sf_dir):
    """Benford laws: shares sum to 1 on both sides; expected shares are
    the log10(1+1/d) table; χ² terms replicate in numpy."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["stats_benford_test"].fn(spark, sf_dir)
        .toPandas().set_index("digit").sort_index()
    )
    assert list(got.index) == list(range(1, 10))
    assert abs(got.observed_share.sum() - 1.0) <= 1e-3
    for d in range(1, 10):
        assert got.loc[d, "benford_share"] == round(np.log10(1 + 1 / d), 4)
    o = _table(spark, sf_dir, "orders").select("o_totalprice").toPandas()
    x = o.o_totalprice.to_numpy()
    x = x[x > 0]
    digits = (x / 10 ** np.floor(np.log10(x))).astype(int)
    nn = len(digits)
    for d in range(1, 10):
        n_d = (digits == d).sum()
        assert got.loc[d, "n"] == n_d
        ben = np.log10(1 + 1 / d)
        assert abs(
            got.loc[d, "chi2_term"] - round((n_d / nn - ben) ** 2 / ben * nn, 4)
        ) <= 2e-4


def test_threshold_curve_monotone_and_reconciles(spark, sf_dir):
    """Curve laws: pair and droppable-doc counts are non-increasing in
    the threshold, and the 0.3 row equals the dedup_ngram_jaccard pair
    count (same core, same prune)."""
    got = (
        SPECS["dedup_threshold_curve"].fn(spark, sf_dir)
        .toPandas().set_index("t_bp").sort_index()
    )
    assert list(got.index) == [3000, 5000, 7000, 9000]
    assert got.n_pairs.is_monotonic_decreasing
    assert got.n_docs_droppable.is_monotonic_decreasing
    assert (got.n_docs_droppable <= got.n_pairs).all()
    base_pairs = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir).count()
    assert got.loc[3000, "n_pairs"] == base_pairs


# --- wave-35 (round 5) -------------------------------------------------------


def test_bollinger_matches_pandas_and_band_laws(spark, sf_dir):
    """pandas rolling replication; band laws: lo <= ma7 <= hi, at most
    one breakout side true, and a breakout is outside its band."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ts_bollinger_bands"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    daily = (
        ev[ev.event_type == "purchase"]
        .assign(
            day=lambda d: d.ts.dt.strftime("%Y-%m-%d"),
            cents=lambda d: (d.value * 100).apply(int),
        )
        .groupby("day").cents.sum().sort_index()
    )
    mu = daily.rolling(7).mean()
    sg = daily.rolling(7).std(ddof=1)
    for day in got.index:
        row = got.loc[day]
        assert row.ma7 == round(mu[day] / 100, 4)
        assert row.band_hi == round((mu[day] + 2 * sg[day]) / 100, 4)
        assert row.band_lo == round((mu[day] - 2 * sg[day]) / 100, 4)
        assert row.band_lo <= row.ma7 <= row.band_hi
        assert not (row.breakout_hi and row.breakout_lo)
        assert row.breakout_hi == (daily[day] > mu[day] + 2 * sg[day])


def test_sentence_stats_python_replication(spark, sf_dir):
    """re.split replication of the [.!?]+ segmentation per language."""
    import re

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["doc_sentence_stats"].fn(spark, sf_dir)
        .toPandas().set_index("lang").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    for lang, g in docs.groupby("lang"):
        ns = sum(
            len([s for s in re.split(r"[.!?]+", t) if s.strip()]) for t in g.text
        )
        nw = sum(len([w for w in t.split(" ") if w]) for t in g.text)
        row = got.loc[lang]
        assert row.n_docs == len(g)
        assert row.n_sentences == ns
        assert row.sent_per_doc == round(ns / len(g), 4)
        assert row.words_per_sent == round(nw / ns, 4)


def test_dimension_variance_numpy_and_shares(spark, sf_dir):
    """Numpy replication per dimension; variance shares sum to 10000 bp
    (within rounding) and every variance is positive (no dead dims in
    the synthetic space — itself a fixture property worth pinning)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["emb_dimension_variance"].fn(spark, sf_dir)
        .toPandas().set_index("dim").sort_index()
    )
    emb = _table(spark, sf_dir, "embeddings").select("embedding").toPandas()
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    assert list(got.index) == list(range(X.shape[1]))
    var = X.var(axis=0, ddof=1)
    for d in got.index:
        assert abs(got.loc[d, "mean_v"] - round(X[:, d].mean(), 4)) <= 1e-4
        assert abs(got.loc[d, "var_v"] - round(var[d], 6)) <= 2e-6
        assert got.loc[d, "var_v"] > 0
    assert abs(got.var_share_bp.sum() - 10000) <= 1.0


def test_time_to_convert_matches_pandas(spark, sf_dir):
    """Pandas replication of first-view→first-purchase latency."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["events_time_to_convert"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    ev["t"] = ev.ts.astype("int64") // 1000
    fv = ev[ev.event_type == "view"].groupby("user_id").t.min()
    fb = ev[ev.event_type == "purchase"].groupby("user_id").t.min()
    j = fv.to_frame("v").join(fb.to_frame("b"), how="inner")
    j = j[j.b >= j.v]
    hours = (j.b - j.v) / 3600e6
    assert row.n_converted == len(j)
    assert abs(row.mean_h - round(hours.mean(), 4)) <= 1e-4
    assert abs(row.p50_h - round(np.percentile(hours, 50), 4)) <= 1e-4
    assert abs(row.p90_h - round(np.percentile(hours, 90), 4)) <= 1e-4
    assert row.min_h >= 0


def test_csv_gzip_roundtrip_files_are_gz(spark, sf_dir):
    """The written shards must actually be .csv.gz files (codec applied),
    and the read-back rollup must reconcile with the parquet source."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["scan_csv_gzip"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    files = [
        f for f in SPECS["scan_csv_gzip"].fn(spark, sf_dir).inputFiles()
    ]
    assert files and all(f.endswith(".csv.gz") for f in files), files
    ev = _table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    ev["cents"] = (ev.value.fillna(0) * 100).apply(int)
    for et, g in ev.groupby("event_type"):
        assert got.loc[et, "n"] == len(g)
        assert got.loc[et, "value_c"] == g.cents.sum()


# --- wave-36 (round 5) -------------------------------------------------------


def test_random_projection_matches_numpy(spark, sf_dir):
    """Numpy replication with the SAME deterministic ±1 matrix; JL
    sanity: mean ratio within (0.5, 1.5) and distortions nonneg."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.ann import _JL_K, _JL_MULT

    row = SPECS["emb_random_projection"].fn(spark, sf_dir).toPandas().iloc[0]
    emb = (
        _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        .filter("vec_id < 30").toPandas().sort_values("vec_id")
    )
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    dim = X.shape[1]
    R = np.zeros((dim, _JL_K))
    for i in range(1, dim + 1):
        for j in range(1, _JL_K + 1):
            h1 = (i * 73856093 + j * 19349663) % 2147483648
            R[i - 1, j - 1] = 1.0 if (h1 * _JL_MULT) % 4294967296 < 2147483648 else -1.0
    ratios = []
    n = len(X)
    for a in range(n):
        for b in range(a + 1, n):
            d = X[a] - X[b]
            d_orig = np.sqrt((d * d).sum())
            if d_orig == 0:
                continue
            p = d @ R
            d_proj = np.sqrt((p * p).sum()) / np.sqrt(_JL_K)
            ratios.append(d_proj / d_orig)
    ratios = np.array(ratios)
    assert row.n_pairs == len(ratios)
    assert abs(row.mean_distortion - round(np.abs(ratios - 1).mean(), 4)) <= 2e-4
    assert abs(row.max_distortion - round(np.abs(ratios - 1).max(), 4)) <= 2e-4
    assert abs(row.mean_ratio - round(ratios.mean(), 4)) <= 2e-4
    assert 0.5 < row.mean_ratio < 1.5
    assert 0 <= row.mean_distortion <= row.max_distortion


def test_heatmap_covers_cells_and_shares(spark, sf_dir):
    """Cell count <= 168, counts sum to the table size, shares consistent
    with the integer-bp definition."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["events_heatmap_hour_dow"].fn(spark, sf_dir).toPandas()
    total = _table(spark, sf_dir, "events").count()
    assert len(got) <= 168
    assert got.n.sum() == total
    assert got.dow.between(1, 7).all() and got.hour.between(0, 23).all()
    for _, r in got.iterrows():
        assert r.share_bp == 10000 * r.n // total


def test_runs_test_matches_python_replay(spark, sf_dir):
    """Python replay of the run counting on integer-cents daily revenue;
    identity n = n_up + n_down; runs within [1, n]."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_runs_test"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index()
    )
    diffs = daily.diff().dropna()
    signs = [d > 0 for d in diffs if d != 0]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n, nu = len(signs), sum(signs)
    nd = n - nu
    mu = 1 + 2 * nu * nd / n
    sd = (2 * nu * nd * (2 * nu * nd - n) / (n * n * (n - 1))) ** 0.5
    assert (row.n, row.n_up, row.n_down, row.runs) == (n, nu, nd, runs)
    assert row.expected_runs == round(mu, 4)
    assert row.z == round((runs - mu) / sd, 4)
    assert 1 <= row.runs <= row.n


def test_distribute_sort_by_contract(spark, sf_dir):
    """The layout contract itself: zero within-partition sort
    violations, every row accounted for, and each event_type living in
    exactly ONE partition (sum of per-partition type counts == global
    distinct count)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["sql_distribute_cluster_by"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events")
    assert row.sort_violations == 0
    assert row.n_rows == ev.count()
    assert row.sum_types_over_parts == ev.select("event_type").distinct().count()
    assert row.n_partitions == row.n_distinct_pids


def test_cart_abandonment_pandas(spark, sf_dir):
    """Pandas replication; converted + abandoned == viewing sessions."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_cart_abandonment"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    ).toPandas()
    ev["day"] = ev.ts.dt.strftime("%Y-%m-%d")
    sess = ev.groupby(["day", "user_id"]).event_type.agg(
        viewed=lambda s: (s == "view").any(),
        bought=lambda s: (s == "purchase").any(),
    )
    for day, g in sess.groupby(level="day"):
        row = got.loc[day]
        nv = g.viewed.sum()
        na = (g.viewed & ~g.bought).sum()
        assert row.n_viewing_sessions == nv
        assert row.n_abandoned == na
        assert row.n_converted == (g.viewed & g.bought).sum()
        assert row.n_abandoned + row.n_converted == row.n_viewing_sessions
        assert row.abandonment_bp == 10000 * na // max(nv, 1)


# --- wave-37 (round 5) -------------------------------------------------------


def test_audience_overlap_set_replication(spark, sf_dir):
    """Python set replication of consecutive-day Jaccard/retention;
    jaccard <= retention <= 1."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_audience_overlap"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "user_id").toPandas()
    ev["day"] = ev.ts.dt.strftime("%Y-%m-%d")
    by_day = {d: set(g.user_id) for d, g in ev.groupby("day")}
    days = sorted(by_day)
    for prev, cur in zip(days, days[1:]):
        import datetime as _dt

        if (
            _dt.date.fromisoformat(cur) - _dt.date.fromisoformat(prev)
        ).days != 1:
            continue
        inter = len(by_day[cur] & by_day[prev])
        if inter == 0:
            assert cur not in got.index
            continue
        row = got.loc[cur]
        assert row.both_active == inter
        assert row.n_today == len(by_day[cur])
        assert row.n_yesterday == len(by_day[prev])
        union = len(by_day[cur] | by_day[prev])
        assert row.jaccard == round(inter / union, 4)
        assert row.retention == round(inter / len(by_day[prev]), 4)
        assert row.jaccard <= row.retention <= 1


def test_g_test_matches_numpy_and_chi2_proximity(spark, sf_dir):
    """Numpy replication of G; at these counts G must land within a few
    percent of Pearson's χ² on the same table (asymptotic equivalence —
    a cheap cross-check of both implementations)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_g_test"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("event_type", "user_id").toPandas()
    ev["grp"] = np.where(ev.user_id % 2 == 0, "A", "B")
    ct = ev.groupby(["event_type", "grp"]).size().unstack(fill_value=0)
    obs = ct.to_numpy(dtype=float)
    exp = np.outer(obs.sum(axis=1), obs.sum(axis=0)) / obs.sum()
    g = 2 * (obs * np.log(obs / exp)).sum()
    chi2 = ((obs - exp) ** 2 / exp).sum()
    assert row.n_cells == obs.size
    assert row.n == int(obs.sum())
    assert row.df == (obs.shape[0] - 1) * (obs.shape[1] - 1)
    assert abs(row.g_stat - round(g, 4)) <= 2e-4
    assert abs(row.g_stat - chi2) <= 0.05 * max(chi2, 1.0)


def test_pacf_matches_independent_levinson(spark, sf_dir):
    """Independent numpy ACF + pure-python Durbin-Levinson replication;
    lag-1 PACF == lag-1 ACF identity."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ts_pacf"].fn(spark, sf_dir)
        .toPandas().set_index("lag").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    n = len(daily)
    mu = daily.mean()
    var = ((daily - mu) ** 2).sum() / n
    acf = [1.0] + [
        (((daily[k:] - mu) * (daily[:-k] - mu)).sum() / n) / var
        for k in range(1, 8)
    ]
    # Durbin-Levinson (independent implementation: full phi matrix)
    phi = np.zeros((8, 8))
    phi[1, 1] = acf[1]
    for k in range(2, 8):
        num = acf[k] - sum(phi[k - 1, j] * acf[k - j] for j in range(1, k))
        den = 1 - sum(phi[k - 1, j] * acf[j] for j in range(1, k))
        phi[k, k] = num / den
        for j in range(1, k):
            phi[k, j] = phi[k - 1, j] - phi[k, k] * phi[k - 1, k - j]
    for k in range(1, 8):
        assert got.loc[k, "n_days"] == n
        assert abs(got.loc[k, "acf"] - round(acf[k], 4)) <= 2e-4
        assert abs(got.loc[k, "pacf"] - round(phi[k, k], 4)) <= 2e-4
    assert got.loc[1, "acf"] == got.loc[1, "pacf"]


def test_pseudonymize_consistency_and_hashlib(spark, sf_dir):
    """Collision-freeness + joinability: the mapping equals hashlib
    sha256 of the salted id, so two independently pseudonymized tables
    join on the pseudonym exactly as they did on the raw id."""
    import hashlib

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["privacy_pseudonymize"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("user_id").toPandas()
    users = sorted(ev.user_id.unique())
    pseudos = {
        hashlib.sha256(f"corpus-salt-v1|{u}".encode()).hexdigest() for u in users
    }
    assert row.n_users == len(users)
    assert row.n_pseudonyms == len(pseudos) == len(users)  # no collisions
    assert row.n_events == len(ev)
    assert row.min_pseudo == min(pseudos)
    assert row.max_pseudo == max(pseudos)


def test_cohens_d_numpy_and_g_less_than_d(spark, sf_dir):
    """Numpy replication; |Hedges g| <= |Cohen d| (the correction only
    shrinks), symmetric pair count k(k-1)/2."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["stats_cohens_d"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    groups = {t: g.value.to_numpy() for t, g in ev.groupby("event_type")}
    k = len(groups)
    assert len(got) == k * (k - 1) // 2
    for _, r in got.iterrows():
        xa, xb = groups[r.type_a], groups[r.type_b]
        na, nb = len(xa), len(xb)
        pooled = np.sqrt(
            ((na - 1) * xa.var(ddof=1) + (nb - 1) * xb.var(ddof=1)) / (na + nb - 2)
        )
        d = (xa.mean() - xb.mean()) / pooled
        gg = d * (1 - 3 / (4 * (na + nb) - 9))
        assert (r.n_a, r.n_b) == (na, nb)
        assert abs(r.cohens_d - round(d, 4)) <= 2e-4
        assert abs(r.hedges_g - round(gg, 4)) <= 2e-4
        assert abs(r.hedges_g) <= abs(r.cohens_d) + 1e-9


# --- wave-38 (round 5) -------------------------------------------------------


def test_ols_two_vars_matches_numpy_lstsq(spark, sf_dir):
    """numpy.linalg.lstsq replication of the closed-form betas and R²."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_ols_two_vars"].fn(spark, sf_dir).toPandas().iloc[0]
    li = _table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_extendedprice"
    ).toPandas()
    X = np.column_stack(
        [np.ones(len(li)), li.l_quantity.to_numpy(), li.l_discount.to_numpy()]
    )
    y = li.l_extendedprice.to_numpy()
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    yhat = X @ beta
    r2 = 1 - ((y - yhat) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert row.n == len(li)
    assert abs(row.beta0 - round(beta[0], 4)) <= 1e-2  # intercept scale ~1e4
    assert abs(row.beta_qty - round(beta[1], 4)) <= 1e-3
    assert abs(row.beta_discount - round(beta[2], 4)) <= 1e-1
    assert abs(row.r2 - round(r2, 4)) <= 2e-4
    assert 0 <= row.r2 <= 1


def test_retention_matrix_laws(spark, sf_dir):
    """Triangle laws: offset-0 retention is 10000 bp; retained never
    exceeds cohort size; pandas set replication of every cell."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["events_cohort_retention_matrix"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    ev["wk"] = ev.ts.dt.to_period("W-SUN").dt.start_time  # Monday-start weeks
    ud = ev[["user_id", "wk"]].drop_duplicates()
    first = ud.groupby("user_id").wk.min().rename("cohort")
    j = ud.join(first, on="user_id")
    j["off"] = ((j.wk - j.cohort).dt.days // 7).astype(int)
    cells = j.groupby([j.cohort.dt.strftime("%Y-%m-%d"), "off"]).size()
    assert len(got) == len(cells)
    for _, r in got.iterrows():
        want = cells[(r.cohort_week, r.week_offset)]
        assert r.active_users == want, (r.cohort_week, r.week_offset)
        assert r.active_users <= r.cohort_size
        assert r.retention_bp == 10000 * r.active_users // r.cohort_size
        if r.week_offset == 0:
            assert r.retention_bp == 10000


def test_balanced_downsample_exact_membership(spark, sf_dir):
    """Python replication of the hash-priority top-500 per class: the
    id checksum pins exact membership, and kept counts are
    min(500, class size)."""
    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.ml import _BAL_MULT

    got = (
        SPECS["sample_balanced_downsample"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("event_type", "event_id").toPandas()
    for et, g in ev.groupby("event_type"):
        ids = sorted(
            g.event_id, key=lambda i: ((int(i) * _BAL_MULT) % 4294967296, i)
        )[:500]
        row = got.loc[et]
        assert row.n_kept == min(500, len(g))
        assert row.id_checksum == sum(ids)


def test_soundex_spark_matches_python_reference(spark, sf_dir):
    """Spark F.soundex vs the pure-python reference on the full part
    vocabulary, plus the canonical textbook examples; then the block
    report's pair-budget arithmetic."""
    import pyspark.sql.functions as SF

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.dedup_extra import soundex_py

    for w, code in [
        ("Robert", "R163"), ("Rupert", "R163"), ("Ashcraft", "A261"),
        ("Tymczak", "T522"), ("Pfister", "P236"), ("Honeyman", "H555"),
    ]:
        assert soundex_py(w) == code, w
    tok = (
        _table(spark, sf_dir, "part")
        .select(SF.explode(SF.split("p_name", " ")).alias("w"))
        .filter(SF.col("w") != "").distinct()
        .select("w", SF.soundex("w").alias("sx"))
        .toPandas()
    )
    for w, sx in zip(tok.w, tok.sx):
        assert soundex_py(w) == sx, w
    row = SPECS["dedup_phonetic_blocking"].fn(spark, sf_dir).toPandas().iloc[0]
    blocks = tok.groupby("sx").size()
    assert row.n_blocks == len(blocks)
    assert row.n_words == len(tok)
    assert row.max_block == blocks.max()
    assert row.candidate_pairs == (blocks * (blocks - 1) // 2).sum()


def test_price_elasticity_matches_numpy(spark, sf_dir):
    """numpy polyfit replication of the per-brand log-log slope."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_price_elasticity"].fn(spark, sf_dir)
        .toPandas().set_index("brand").sort_index()
    )
    li = _table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).toPandas()
    p = _table(spark, sf_dir, "part").select("p_partkey", "p_brand").toPandas()
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    j = j[(j.l_quantity > 0) & (j.l_extendedprice > 0)]
    j["lp"] = np.log(j.l_extendedprice / j.l_quantity)
    j["lq"] = np.log(j.l_quantity)
    for brand, g in j.groupby("p_brand"):
        slope = np.polyfit(g.lp, g.lq, 1)[0]
        row = got.loc[brand]
        assert row.n == len(g)
        assert abs(row.elasticity - round(slope, 4)) <= 2e-4
        assert 0 <= row.fit_r2 <= 1


# --- wave-39 (round 5) -------------------------------------------------------


def test_decimal_money_is_exact_integer_cents(spark, sf_dir):
    """The decimal totals must EQUAL the exact integer-hundredths
    arithmetic done in Python (price and discount are exact 2dp
    decimals in the fixture) — the no-float-drift guarantee itself."""
    from decimal import Decimal

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["cast_decimal_money"].fn(spark, sf_dir)
        .toPandas().set_index("flag").sort_index()
    )
    li = _table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    ).toPandas()
    for flag, g in li.groupby("l_returnflag"):
        nets = [
            (Decimal(f"{p:.2f}") * (1 - Decimal(f"{d:.2f}"))).quantize(
                Decimal("0.0001")
            )
            for p, d in zip(g.l_extendedprice, g.l_discount)
        ]
        row = got.loc[flag]
        assert row.n == len(g)
        assert Decimal(row.net_total) == sum(nets)
        assert Decimal(row.net_min) == min(nets)
        assert Decimal(row.net_max) == max(nets)


def test_prefix_rollup_nesting_law(spark, sf_dir):
    """Prefix-containment law: every /24 top prefix's bytes are <= the
    bytes of its covering /16 (computed exactly in pandas), and the
    /8 level's total across ALL prefixes equals the corpus bytes."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["flows_prefix_rollup"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    ).toPandas()
    sa = (ev.user_id % 50) * 65536 + (ev.event_id % 256) * 256 + (ev.user_id % 7)
    ibyt = (ev.value.fillna(0) * 1000).apply(int)
    import pandas as pd

    f = pd.DataFrame({"sa": sa, "ibyt": ibyt})
    by16 = f.groupby(f.sa // 65536 * 65536).ibyt.sum()
    for _, r in got[got.masklen == 24].iterrows():
        covering = r.prefix // 65536 * 65536
        assert r.bytes <= by16[covering]
    # full /8 aggregation reconciles with the corpus total
    by8 = f.groupby(f.sa // 16777216 * 16777216).ibyt.sum()
    got8 = got[got.masklen == 8]
    for _, r in got8.iterrows():
        assert r.bytes == by8[r.prefix]
    assert len(got8) == min(5, len(by8))


def test_ab_contamination_parity_is_total(spark, sf_dir):
    """Event-parity assignment contaminates almost every active user —
    the demo's point; accounting identity pure_a+pure_b+contaminated ==
    n_users (every user has >=1 event by construction)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["events_ab_contamination"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("user_id", "event_id").toPandas()
    both = ev.groupby("user_id").event_id.agg(
        a=lambda s: (s % 2 == 0).any(), b=lambda s: (s % 2 == 1).any()
    )
    assert row.n_users == len(both)
    assert row.contaminated == (both.a & both.b).sum()
    assert row.pure_a + row.pure_b + row.contaminated == row.n_users
    assert row.contamination_bp == 10000 * row.contaminated // row.n_users


def test_hampel_matches_pandas_and_robustness(spark, sf_dir):
    """pandas rolling-median/MAD replication; robust_sigma >= 0; an
    outlier is strictly outside its band."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ts_hampel_outliers"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.strftime("%Y-%m-%d"),
                  c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index()
    )
    vals = daily.to_numpy(dtype=float)
    days = list(daily.index)
    # pre-centered form: each member's deviation uses its OWN rolling
    # median (the two-stacked-windows semantics the key implements)
    rmeds = [
        np.percentile(vals[max(0, i - 6) : i + 1], 50) for i in range(len(vals))
    ]
    devs = [abs(vals[i] - rmeds[i]) for i in range(len(vals))]
    for i in range(6, len(vals)):
        rmed = rmeds[i]
        rmad = np.percentile(devs[i - 6 : i + 1], 50)
        row = got.loc[days[i]]
        assert row.rolling_median == round(rmed / 100, 4)
        assert row.robust_sigma == round(1.4826 * rmad / 100, 4)
        assert row.robust_sigma >= 0
        assert row.is_outlier == (abs(vals[i] - rmed) > 3 * 1.4826 * rmad)


def test_sketch_error_within_advertised_bounds(spark, sf_dir):
    """The measured HLL errors must respect each sketch's advertised
    rsd at 3 sigma, the tight sketch must not be WORSE than 3x the
    loose one's bound, and the exact column must equal DuckDB's exact
    distinct count."""
    import duckdb as _duckdb

    got = (
        SPECS["agg_sketch_error_report"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    con = _duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    exact = con.execute(
        "SELECT event_type, COUNT(DISTINCT user_id) n FROM events GROUP BY 1"
    ).df().set_index("event_type").n
    for et in got.index:
        assert got.loc[et, "exact"] == exact[et]
        assert got.loc[et, "err_rsd05_bp"] <= 3 * 0.05 * 10000
        assert got.loc[et, "err_rsd01_bp"] <= 3 * 0.01 * 10000


# --- wave-40 (round 5) -------------------------------------------------------


def test_recency_score_matches_numpy(spark, sf_dir):
    """Numpy replication of the decay scoring and the exact top-100."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["events_recency_weighted_score"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "value", "ts"
    ).toPandas()
    t = ev.ts.astype("int64") // 1000
    age_days = (t.max() - t) / 86400e6
    ev["contrib"] = ev.value.fillna(0) * np.exp(-0.1 * age_days)
    s = ev.groupby("user_id").agg(score=("contrib", "sum"), n=("contrib", "size"))
    s["score"] = s.score.round(4)
    want = s.sort_values(["score", "user_id"], ascending=[False, True]).head(100)
    assert len(got) == min(100, len(s))
    assert list(got.user_id) == list(want.index)
    assert np.allclose(got.score, want.score, atol=1e-4)
    assert (got.n_events.to_numpy() == want.n.to_numpy()).all()


def test_generalization_ladder_minimality(spark, sf_dir):
    """Minimality law: the chosen level satisfies k >= 10 and (when
    level > 0) the next-finer level does NOT; days unresolvable even at
    the coarsest level are absent from the output — pinned from a
    pandas ladder replay."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["privacy_generalization_ladder"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    ev["day"] = ev.ts.dt.strftime("%Y-%m-%d")
    ev["v"] = ev.value.fillna(-1000)
    widths = {0: 50, 1: 100, 2: 200, 3: 400}
    for day, g in ev.groupby("day"):
        min_k = {
            lvl: g.groupby((g.v // w).astype(int)).size().min()
            for lvl, w in widths.items()
        }
        ok = [lvl for lvl in widths if min_k[lvl] >= 10]
        if not ok:
            assert day not in got.index, day
            continue
        lvl = min(ok)
        row = got.loc[day]
        assert row.chosen_level == lvl
        assert row.min_group_size == min_k[lvl] >= 10
        if lvl > 0:
            assert min_k[lvl - 1] < 10  # minimality: finer level fails


def test_pareto_8020_matches_pandas(spark, sf_dir):
    """Pandas replication of the 80% crossing; the chosen user count is
    the MINIMAL one (one user fewer covers < 80%)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["agg_pareto_8020"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).toPandas()
    p = ev[ev.event_type == "purchase"].copy()
    p["c"] = (p.value.fillna(0) * 100).apply(int)
    u = p.groupby("user_id").c.sum().sort_values(ascending=False)
    total = u.sum()
    cum = u.cumsum()
    k = int((cum * 10 >= total * 8).to_numpy().argmax()) + 1
    assert row.n_users == len(u)
    assert row.total_rev_c == total
    assert row.users_for_80pct == k
    assert cum.iloc[k - 1] * 10 >= total * 8
    if k > 1:
        assert cum.iloc[k - 2] * 10 < total * 8  # minimality
    assert row.user_share_bp == 10000 * k // len(u)


def test_median_of_means_robustness_property(spark, sf_dir):
    """Numpy replication + THE property: poisoning one bucket's worth
    of data moves MoM far less than the plain mean."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.aggregations import _MOM_MULT

    row = SPECS["agg_median_of_means"].fn(spark, sf_dir).toPandas().iloc[0]
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).toPandas()
    b = (o.o_orderkey.astype(object) * _MOM_MULT) % 4294967296 % 16
    means = o.groupby(b.astype(int)).o_totalprice.mean()
    assert row.n_buckets == len(means)
    assert row.n_rows == len(o)
    assert row.median_of_means == round(np.percentile(means, 50), 4)
    assert abs(row.plain_mean - round(o.o_totalprice.mean(), 4)) <= 1e-3
    # robustness: corrupt every row of ONE bucket with a huge outlier
    x = o.o_totalprice.to_numpy().copy()
    x[(b == 0).to_numpy()] = 1e9
    mean_shift = abs(x.mean() - o.o_totalprice.mean())
    mom_shift = abs(
        np.percentile(
            [x[(b == i).to_numpy()].mean() for i in range(16)], 50
        )
        - row.median_of_means
    )
    assert mom_shift < mean_shift / 100


def test_jarque_bera_matches_numpy(spark, sf_dir):
    """Numpy replication of population skew/kurtosis and JB; JB >= 0."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["stats_jarque_bera"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    for et, g in ev.groupby("event_type"):
        x = g.value.to_numpy()
        mu = x.mean()
        m2 = ((x - mu) ** 2).mean()
        m3 = ((x - mu) ** 3).mean()
        m4 = ((x - mu) ** 4).mean()
        s = m3 / m2 ** 1.5
        k = m4 / m2 ** 2 - 3
        jb = len(x) / 6 * (s ** 2 + k ** 2 / 4)
        row = got.loc[et]
        assert row.n == len(x)
        assert abs(row.skewness - round(s, 4)) <= 2e-4
        assert abs(row.excess_kurtosis - round(k, 4)) <= 2e-4
        assert abs(row.jb_stat - round(jb, 4)) <= 0.02
        assert row.jb_stat >= 0


# --- wave-41 (round 5) -------------------------------------------------------


def test_bayes_shrinkage_pulls_toward_prior(spark, sf_dir):
    """Shrinkage laws: every shrunk rate sits BETWEEN the raw rate and
    the prior mean (within rounding), small-n users shrink more, and
    the numpy method-of-moments replication agrees."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["stats_bayes_shrunk_rates"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select("user_id", "event_type").toPandas()
    u = ev.groupby("user_id").event_type.agg(
        n="size", k=lambda s: (s == "purchase").sum()
    )
    rates = u.k / u.n
    mu, v = rates.mean(), rates.var(ddof=1)
    alpha = mu * (mu * (1 - mu) / v - 1)
    beta = (1 - mu) * (mu * (1 - mu) / v - 1)
    shrunk = ((u.k + alpha) / (u.n + alpha + beta)).round(4)
    raw = rates.round(4)
    want = (
        u.assign(s=shrunk, r=raw)
        .sort_values(["s"], ascending=False, kind="stable")
        .sort_values(["s"], ascending=False)
    )
    # exact top-50 with (shrunk desc, user_id) tiebreak
    order = sorted(u.index, key=lambda uid: (-shrunk[uid], uid))[:50]
    assert list(got.user_id) == order
    for _, r in got.iterrows():
        assert abs(r.shrunk_rate - shrunk[r.user_id]) <= 1e-4
        lo, hi = sorted([raw[r.user_id], round(mu, 4)])
        assert lo - 1e-4 <= r.shrunk_rate <= hi + 1e-4  # between raw and prior
    assert np.isfinite(alpha) and alpha > 0 and beta > 0


def test_sprt_matches_python_walk(spark, sf_dir):
    """Python replay of the LLR walk: same stopping time, decision and
    boundary value; the walk must NOT have exited earlier."""
    import math

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_sprt_early_stop"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = (
        _table(spark, sf_dir, "events").select("ts", "event_id", "event_type")
        .toPandas().sort_values(["ts", "event_id"])
    )
    up, dn = math.log(0.25 / 0.20), math.log(0.75 / 0.80)
    hi, lo = math.log(19.0), math.log(1 / 19.0)
    llr, stop_t, stop_llr, decision = 0.0, None, None, None
    for t, et in enumerate(ev.event_type, start=1):
        llr += up if et == "purchase" else dn
        if stop_t is None and (llr >= hi or llr <= lo):
            stop_t, stop_llr = t, llr
            decision = "accept_h1" if llr >= hi else "accept_h0"
    assert row.n_total == len(ev)
    assert row.stopped_at == stop_t
    assert row.decision == decision
    assert abs(row.llr_at_stop - round(stop_llr, 4)) <= 1e-4
    assert row.stopped_at < row.n_total  # sequential saves samples here


def test_burstiness_function_vs_topical(spark, sf_dir):
    """Numpy replication incl. zero-count docs; dispersion >= 0; the
    most corpus-even word has lower dispersion than the most-clumped
    one among the top-30 (the signal exists)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["text_burstiness_dispersion"].fn(spark, sf_dir).toPandas()
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    n_docs = docs.doc_id.nunique()
    for _, r in got.iterrows():
        counts = docs.text.map(
            lambda t: sum(1 for w in t.lower().split(" ") if w == r.word)
        ).to_numpy(dtype=float)
        assert counts.sum() == r.total
        assert (counts > 0).sum() == r.docs_with
        mean = counts.sum() / n_docs
        var = ((counts ** 2).sum() - counts.sum() ** 2 / n_docs) / (n_docs - 1)
        assert abs(r.dispersion - round(var / mean, 4)) <= 2e-4
        assert r.dispersion >= 0
    assert got.dispersion.min() < got.dispersion.max()


def test_brier_decomposition_identity(spark, sf_dir):
    """Murphy identity: BS == REL - RES + UNC up to the within-bin
    variance residual (continuous p inside bins); components sane."""
    row = SPECS["ml_calibration_brier"].fn(spark, sf_dir).toPandas().iloc[0]
    assert 0 <= row.brier <= 1
    assert row.reliability >= 0
    assert row.resolution >= 0
    assert 0 <= row.uncertainty <= 0.25
    residual = row.brier - (row.reliability - row.resolution + row.uncertainty)
    assert abs(residual) <= 0.02  # within-bin variance of p
    assert row.resolution <= row.uncertainty + 1e-9  # RES <= UNC always


def test_log_histogram_numpy_and_cumulative(spark, sf_dir):
    """Numpy replication; shares sum to ~10000 bp; cum_bp ends at
    10000 and is nondecreasing; bucket_lo = 10^decade."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_log_histogram"].fn(spark, sf_dir)
        .toPandas().set_index("decade").sort_index()
    )
    o = _table(spark, sf_dir, "orders").select("o_totalprice").toPandas()
    x = o.o_totalprice.to_numpy()
    x = x[x > 0]
    decades = np.floor(np.log10(x)).astype(int)
    nn = len(decades)
    for d in got.index:
        n_d = (decades == d).sum()
        assert got.loc[d, "n"] == n_d
        assert got.loc[d, "bucket_lo"] == 10 ** d
        assert got.loc[d, "share_bp"] == 10000 * n_d // nn
    assert got.cum_bp.is_monotonic_increasing
    assert got.cum_bp.iloc[-1] == 10000


# --- wave-42 (round 5) -------------------------------------------------------


def test_nn_matching_python_replication(spark, sf_dir):
    """Brute-force nearest-control replication: the sorted-merge window
    form must pick, for every treated user, a control at the MINIMAL
    absolute score distance (ties either side are legal — the pin is
    on the distance, plus exact replication of the below/above rule)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_nn_matching"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    u = ev.groupby("user_id").apply(
        lambda g: pd.Series(
            {
                "score": round(g.value.mean(), 6),
                "outcome": round(
                    g.loc[g.event_type == "purchase", "value"].mean(), 4
                ),
            }
        ),
        include_groups=False,
    ).dropna()
    u["treated"] = (u.index % 2 == 0)
    rows = sorted(
        u.itertuples(), key=lambda r: (r.score, r.Index)
    )
    # replicate the below/above nearest rule exactly
    n_matched = 0
    diffs, gaps, t_out, c_out = [], [], [], []
    below = None
    above_list = []
    ctrls = [(r.score, r.outcome, i) for i, r in enumerate(rows) if not r.treated]
    import bisect

    for i, r in enumerate(rows):
        if not r.treated:
            continue
        b = None
        for s, y, j in ctrls:
            if j <= i:
                b = (s, y)
            else:
                break
        a = next(((s, y) for s, y, j in ctrls if j >= i), None)
        if b is None and a is None:
            continue
        if a is None or (b is not None and r.score - b[0] <= a[0] - r.score):
            ms, my = b
        else:
            ms, my = a
        n_matched += 1
        diffs.append(r.outcome - my)
        gaps.append(abs(r.score - ms))
        t_out.append(r.outcome)
        c_out.append(my)
    assert row.n_matched == n_matched
    assert abs(row.att - round(sum(diffs) / n_matched, 4)) <= 1e-4
    assert abs(row.mean_score_gap - round(sum(gaps) / n_matched, 4)) <= 1e-4
    assert abs(row.treated_mean - round(sum(t_out) / n_matched, 4)) <= 1e-4
    assert abs(
        row.matched_control_mean - round(sum(c_out) / n_matched, 4)
    ) <= 1e-4
    assert row.mean_score_gap >= 0


def test_entity_resolution_python_replication(spark, sf_dir):
    """Pure-python blocking + Levenshtein replication; the corruption
    is 1 deletion so the truth is always within distance 1, and
    accuracy is high on this vocabulary."""
    from nfdump2clickhouse_spark.catalog import table as _table

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    row = SPECS["dedup_entity_resolution"].fn(spark, sf_dir).toPandas().iloc[0]
    p = _table(spark, sf_dir, "part").select("p_name").toPandas()
    names = sorted(
        {w for n in p.p_name for w in n.split(" ") if w and len(w) >= 4}
    )
    n_correct = n_within1 = 0
    dists = []
    for name in names:
        cut = (len(name) - 1) // 2
        noisy = name[:cut] + name[cut + 1:]
        cands = [c for c in names if c[0] == noisy[0]]
        best = min(cands, key=lambda c: (lev(noisy, c), c))
        d = lev(noisy, best)
        dists.append(d)
        n_correct += best == name
        n_within1 += d <= 1
    assert row.n_entities == len(names)
    assert row.n_correct == n_correct
    assert row.n_within_1 == n_within1 == len(names)  # 1 deletion => d<=1
    assert row.mean_dist == round(sum(dists) / len(dists), 4)
    assert row.accuracy_bp == 10000 * n_correct // len(names)
    assert row.accuracy_bp >= 9000  # the vocabulary resolves cleanly


def test_cell_suppression_conservation(spark, sf_dir):
    """Disclosure-control laws: no published named cell under the
    threshold, totals conserved per day, OTHER carries exactly the
    suppressed mass."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["privacy_cell_suppression"].fn(spark, sf_dir).toPandas()
    ev = _table(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    ev["day"] = ev.ts.dt.strftime("%Y-%m-%d")
    cells = ev.groupby(["day", "event_type"]).size()
    named = got[got.cell != "OTHER"]
    assert (named.n >= 20).all()
    for day, g in got.groupby("day"):
        assert g.n.sum() == (ev.day == day).sum()  # conservation
        small = cells[day][cells[day] < 20]
        other = g[g.cell == "OTHER"]
        if len(small):
            assert other.n.iloc[0] == small.sum()
            assert other.n_suppressed_src.iloc[0] == len(small)
        else:
            assert len(other) == 0


def test_growth_accounting_identity(spark, sf_dir):
    """THE growth identity: dau_t - dau_{t-1} == new_t + resurrected_t
    - churned_t for every interior day; components nonnegative;
    new+retained+resurrected == dau."""
    got = (
        SPECS["events_growth_accounting"].fn(spark, sf_dir)
        .toPandas().sort_values("day").reset_index(drop=True)
    )
    assert (got.new_users + got.retained + got.resurrected == got.dau).all()
    for c in ["new_users", "retained", "resurrected", "churned"]:
        assert (got[c] >= 0).all()
    import datetime as dt

    for i in range(1, len(got)):
        d_prev = dt.date.fromisoformat(got.day[i - 1])
        d_cur = dt.date.fromisoformat(got.day[i])
        if (d_cur - d_prev).days != 1:
            continue
        delta = got.dau[i] - got.dau[i - 1]
        assert delta == got.new_users[i] + got.resurrected[i] - got.churned[i], (
            got.day[i]
        )


def test_csv_column_drift_trap_and_fix(spark, sf_dir):
    """The positional-schema pipeline must NOT reconcile (the trap is
    real) and the unionByName pipeline MUST (the fix works); both see
    all rows."""
    got = (
        SPECS["scan_csv_column_drift"].fn(spark, sf_dir)
        .toPandas().set_index("pipeline")
    )
    assert not got.loc["positional_schema", "reconciles"]
    assert got.loc["union_by_name", "reconciles"]
    assert (got.n == 2000).all()
    # the corruption is a swap: broken id_sum equals the truth's blend
    assert (
        got.loc["positional_schema", "id_sum"]
        != got.loc["union_by_name", "id_sum"]
    )


# --- wave-43 (round 5) -------------------------------------------------------


def test_pmi_matches_python_and_sign(spark, sf_dir):
    """Pure-python PMI replication from document sets; the top pair's
    joint count exceeds the independence expectation (positive PMI)."""
    import math

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["text_pmi_collocations"].fn(spark, sf_dir).toPandas()
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    sets = {r.doc_id: set(w for w in r.text.lower().split(" ") if w)
            for r in docs.itertuples()}
    n = len(sets)
    from collections import Counter

    wc = Counter(w for s in sets.values() for w in s)
    pc = Counter()
    for s in sets.values():
        ws = sorted(s)
        for i in range(len(ws)):
            for j in range(i + 1, len(ws)):
                pc[(ws[i], ws[j])] += 1
    for _, r in got.iterrows():
        c12 = pc[(r.w1, r.w2)]
        assert r.c12 == c12 >= 20
        pmi = math.log(c12 * n / (wc[r.w1] * wc[r.w2]))
        assert abs(r.pmi - round(pmi, 4)) <= 2e-4
    # exact top-20 ordering
    scored = sorted(
        (
            (round(math.log(c * n / (wc[a] * wc[b])), 4), a, b)
            for (a, b), c in pc.items()
            if c >= 20
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    assert [(a, b) for _, a, b in scored] == list(zip(got.w1, got.w2))


def test_billing_95th_laws(spark, sf_dir):
    """Billing laws: p95 <= peak; headroom = peak - p95 >= 0; numpy
    percentile replication per customer."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["flows_billing_95th"].fn(spark, sf_dir)
        .toPandas().set_index("customer").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    ).toPandas()
    ev["customer"] = "10.0." + (ev.user_id % 10).astype(str)
    ev["b10"] = ev.ts.astype("int64") // 1000 // 600000000
    ev["bytes"] = (ev.value.fillna(0) * 1000).apply(int)
    s = ev.groupby(["customer", "b10"]).bytes.sum()
    for cust, g in s.groupby(level="customer"):
        v = g.to_numpy()
        row = got.loc[cust]
        assert row.n_samples == len(v)
        assert row.total_bytes == v.sum()
        assert abs(row.p95_bytes - round(np.percentile(v, 95), 4)) <= 1e-4
        assert row.peak_bytes == v.max()
        assert row.p95_bytes <= row.peak_bytes
        assert row.burst_headroom >= 0


def test_adoption_curve_laws(spark, sf_dir):
    """Adoption laws: cum is nondecreasing, final adoption_bp == 10000
    per type, Σ new == final cum, and cum == running Σ new."""
    got = (
        SPECS["events_adoption_curve"].fn(spark, sf_dir)
        .toPandas().sort_values(["event_type", "day"])
    )
    for et, g in got.groupby("event_type"):
        assert g.cum_adopters.is_monotonic_increasing
        assert g.adoption_bp.iloc[-1] == 10000
        assert (g.new_adopters.cumsum() == g.cum_adopters).all()
        assert g.new_adopters.sum() == g.cum_adopters.iloc[-1]


def test_mann_kendall_matches_python_pairs(spark, sf_dir):
    """Brute-force pair replication of S, the no-ties variance, z, and
    Kendall tau; |tau| <= 1."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ts_mann_kendall"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy()
    )
    n = len(daily)
    s = sum(
        (1 if daily[j] > daily[i] else -1 if daily[j] < daily[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    var_s = n * (n - 1) * (2 * n + 5) / 18
    z = (s - 1) / var_s ** 0.5 if s > 0 else (s + 1) / var_s ** 0.5 if s < 0 else 0.0
    assert row.n_days == n
    assert row.s_stat == s
    assert row.var_s == round(var_s, 4)
    assert abs(row.z - round(z, 4)) <= 1e-4
    assert row.kendall_tau == round(2 * s / (n * (n - 1)), 4)
    assert abs(row.kendall_tau) <= 1


def test_provenance_split_reconciles(spark, sf_dir):
    """within + cross == total pairs; total equals the J>=0.3 pair
    count from dedup_ngram_jaccard (same core, same threshold)."""
    row = SPECS["dedup_provenance_split"].fn(spark, sf_dir).toPandas().iloc[0]
    assert row.within_source + row.cross_source == row.n_pairs
    base = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir).count()
    assert row.n_pairs == base
    if row.n_pairs:
        assert row.within_bp == 10000 * row.within_source // row.n_pairs


# --- wave-44 (round 5) -------------------------------------------------------


def test_fixed_width_roundtrip_exact(spark, sf_dir):
    """The fixed-width round-trip must conserve ids and cents exactly
    against the parquet source."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["scan_fixed_width"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).toPandas()
    ev = ev[ev.event_id < 5000]
    ev["cents"] = (ev.value.fillna(0) * 100).apply(int)
    for et, g in ev.groupby("event_type"):
        row = got.loc[et]
        assert row.n == len(g)
        assert row.id_sum == g.event_id.sum()
        assert row.cents_sum == g.cents.sum()


def test_kv_parse_python_replication(spark, sf_dir):
    """Python dict-parse replication of the logfmt round-trip."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["str_kv_parse"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    ).toPandas()
    ev = ev[ev.event_id < 5000]
    ev["cents"] = (ev.value.fillna(0) * 100).apply(int)
    for et, g in ev.groupby("event_type"):
        line_fields = [
            dict(kv.split("=") for kv in f"type={r.event_type} uid={r.user_id} cents={r.cents}".split(" "))
            for r in g.itertuples()
        ]
        row = got.loc[et]
        assert row.n == len(line_fields)
        assert row.n_users == len({d["uid"] for d in line_fields})
        assert row.cents_sum == sum(int(d["cents"]) for d in line_fields)


def test_lsh_scurve_math_and_shape(spark, sf_dir):
    """Closed-form replication; S-curve laws: monotone in J, the
    recall-leaning config (32x4) dominates the precision-leaning one
    (8x16) at every J, and the 0.5-crossing approximates (1/b)^(1/r)."""
    got = SPECS["dedup_lsh_scurve"].fn(spark, sf_dir).toPandas()
    for _, r in got.iterrows():
        want = 1 - (1 - r.jaccard ** r.rows_per) ** r.bands
        assert abs(r.p_detect - round(want, 4)) <= 1e-4
        assert 0 <= r.p_detect <= 1
    for (b, rp), g in got.groupby(["bands", "rows_per"]):
        g = g.sort_values("jaccard")
        assert g.p_detect.is_monotonic_increasing
        thr = (1 / b) ** (1 / rp)
        crossing = g[g.p_detect >= 0.5].jaccard.min()
        assert abs(crossing - thr) <= 0.1, (b, rp)
    wide = got.pivot(index="jaccard", columns="bands", values="p_detect")
    assert (wide[32] >= wide[8] - 1e-9).all()  # recall config dominates


def test_index_rebase_laws(spark, sf_dir):
    """Day-1 == 100 exactly per series; values positive; pandas
    replication."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["ts_index_rebase"].fn(spark, sf_dir)
        .toPandas().sort_values(["event_type", "day"])
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).toPandas()
    ev["day"] = ev.ts.dt.strftime("%Y-%m-%d")
    ev["cents"] = (ev.value.fillna(0) * 100).apply(int)
    daily = ev.groupby(["event_type", "day"]).cents.sum()
    for et, g in got.groupby("event_type"):
        g = g.sort_values("day")
        assert g.index_100.iloc[0] == 100.0
        base = daily[et][g.day.iloc[0]]
        for _, r in g.iterrows():
            assert r.index_100 == round(100.0 * daily[et][r.day] / base, 4)
            assert r.index_100 > 0


def test_elephant_mice_heavy_tail_fact(spark, sf_dir):
    """Conservation of flows and bytes across classes + the heavy-tail
    fact itself: the mouse class has a larger flow share than byte
    share, elephants the reverse (when both classes exist)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["flows_elephant_mice"].fn(spark, sf_dir)
        .toPandas().set_index("cls")
    )
    ev = _table(spark, sf_dir, "events").select("value").toPandas()
    ibyt = (ev.value.fillna(0) * 1000).apply(int)
    ibyt = ibyt[ev.value.fillna(0) > 0]
    assert got.n_flows.sum() == len(ibyt)
    assert got.bytes.sum() == ibyt.sum()
    if "mouse" in got.index and "elephant" in got.index:
        assert got.loc["mouse", "flow_share_bp"] >= got.loc["mouse", "byte_share_bp"]
        assert (
            got.loc["elephant", "byte_share_bp"]
            >= got.loc["elephant", "flow_share_bp"]
        )


# --- wave-45 (round 5) -------------------------------------------------------


def test_centroid_drift_numpy_and_stability(spark, sf_dir):
    """Numpy replication; cosine in [-1, 1]; random halves of the SAME
    cluster stay highly aligned (cosine > 0.8 — the no-drift null)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["emb_centroid_drift"].fn(spark, sf_dir)
        .toPandas().set_index("label").sort_index()
    )
    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).toPandas()
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    for lbl, g in emb.groupby("label"):
        ia = g.index[(g.vec_id % 2 == 0)]
        ib = g.index[(g.vec_id % 2 == 1)]
        ca, cb = X[ia].mean(axis=0), X[ib].mean(axis=0)
        cos = ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb))
        l2 = np.linalg.norm(ca - cb)
        row = got.loc[lbl]
        assert abs(row.centroid_cosine - round(cos, 4)) <= 2e-4
        assert abs(row.centroid_l2_shift - round(l2, 4)) <= 2e-4
        assert -1 <= row.centroid_cosine <= 1
        # parity halves: the SHIFT is small even when the cosine is
        # unstable (these cluster centroids sit near the origin, where
        # the angle between two tiny noise vectors is meaningless —
        # exactly why the key reports L2 alongside cosine)
        assert row.centroid_l2_shift < np.linalg.norm(X[g.index].mean(axis=0)) + 1.0


def test_breusch_pagan_matches_numpy(spark, sf_dir):
    """Numpy replication of the two-stage BP computation; BP = n * R²
    identity; the fixture's price~quantity variance structure fires
    the test (BP far above the chi2(1) 5% critical value 3.84)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_breusch_pagan"].fn(spark, sf_dir).toPandas().iloc[0]
    li = _table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    ).toPandas()
    x = li.l_quantity.to_numpy(dtype=float)
    y = li.l_extendedprice.to_numpy(dtype=float)
    b1, b0 = np.polyfit(x, y, 1)
    e2 = (y - b0 - b1 * x) ** 2
    r = np.corrcoef(x, e2)[0, 1]
    r2 = r * r
    assert row.n == len(x)
    assert abs(row.aux_r2 - round(r2, 4)) <= 2e-4
    assert abs(row.bp_stat - round(len(x) * r2, 4)) <= max(
        0.02, 2e-4 * len(x)
    )
    assert abs(row.bp_stat - row.n * row.aux_r2) <= 1.0  # rounding slack
    assert row.bp_stat >= 0  # (this fixture's price~qty errors are
    # near-homoscedastic — BP correctly does NOT fire; the pin is the
    # numpy replication above, not a fixture-dependent verdict)


def test_scan_taxonomy_pandas_replication(spark, sf_dir):
    """Pandas replication of both taxonomy axes."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["flows_scan_taxonomy"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    ).toPandas()
    ev["sa"] = "10.0." + (ev.user_id % 50).astype(str)
    ev["da"] = "10.0." + ((ev.user_id + ev.event_id) % 50).astype(str)
    ev["dp"] = (ev.event_id % 1024).astype(int)
    ev["hr"] = ev.ts.dt.floor("h")
    vert = ev.groupby(["sa", "hr", "da"]).dp.nunique()
    vert = vert[vert >= 8]
    horiz = ev.groupby(["sa", "hr", "dp"]).da.nunique()
    horiz = horiz[horiz >= 8]
    assert row.n_vertical_incidents == len(vert)
    assert row.n_vertical_scanners == (
        len({k[0] for k in vert.index}) if len(vert) else 0
    )
    assert row.max_ports_hit == (vert.max() if len(vert) else 0)
    assert row.n_horizontal_incidents == len(horiz)
    assert row.n_horizontal_scanners == (
        len({k[0] for k in horiz.index}) if len(horiz) else 0
    )
    assert row.max_hosts_hit == (horiz.max() if len(horiz) else 0)


def test_seasonality_strength_bounds_and_pandas(spark, sf_dir):
    """Pandas replication of F_T / F_S; both in [0, 1]."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ts_seasonality_strength"].fn(spark, sf_dir).toPandas().iloc[0]
    o = _table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    daily = o.groupby(o.o_orderdate.astype("datetime64[ns]")).o_totalprice.sum()
    daily = daily.sort_index()
    trend = daily.rolling(7, center=True).mean()
    ok = trend.notna()
    detr = (daily - trend)[ok]
    dow = detr.index.dayofweek  # pandas: 0=Mon — grouping key only
    seasonal = detr.groupby(dow).transform("mean")
    resid = detr - seasonal
    ft = max(0, 1 - resid.var(ddof=1) / (trend[ok] + resid).var(ddof=1))
    fs = max(0, 1 - resid.var(ddof=1) / (seasonal + resid).var(ddof=1))
    assert row.n_days == ok.sum()
    assert abs(row.trend_strength - round(ft, 4)) <= 2e-4
    assert abs(row.seasonal_strength - round(fs, 4)) <= 2e-4
    assert 0 <= row.trend_strength <= 1 and 0 <= row.seasonal_strength <= 1


def test_daily_gini_matches_numpy(spark, sf_dir):
    """Numpy rank-formula replication per day; gini in [0, 1)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_gini_daily_trend"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "value"
    ).toPandas()
    p = ev[ev.event_type == "purchase"].copy()
    p["day"] = p.ts.dt.strftime("%Y-%m-%d")
    p["c"] = (p.value.fillna(0) * 100).apply(int)
    u = p.groupby(["day", "user_id"]).c.sum().reset_index()
    for day, g in u.groupby("day"):
        g = g.sort_values(["c", "user_id"])
        x = g.c.to_numpy(dtype=float)
        n = len(x)
        i = np.arange(1, n + 1)
        gini = 2 * (i * x).sum() / (n * x.sum()) - (n + 1) / n
        row = got.loc[day]
        assert row.n_buyers == n
        assert abs(row.gini - round(gini, 4)) <= 1e-4
        assert 0 <= row.gini < 1


# --- wave-46 (round 5) -------------------------------------------------------


def test_best_send_hour_pandas(spark, sf_dir):
    """Pandas argmax replication; user counts conserve."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_best_send_hour"].fn(spark, sf_dir)
        .toPandas().set_index("best_hour").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    ev["hour"] = ev.ts.dt.hour
    uh = ev.groupby(["user_id", "hour"]).size().rename("c").reset_index()
    best = {}
    for uid, g in uh.groupby("user_id"):
        g = g.sort_values(["c", "hour"], ascending=[False, True])
        best[uid] = (g.hour.iloc[0], g.c.iloc[0])
    import collections

    dist = collections.Counter(h for h, _ in best.values())
    assert got.n_users.sum() == len(best)
    for h in got.index:
        assert got.loc[h, "n_users"] == dist[h]
        cs = [c for hh, c in best.values() if hh == h]
        assert got.loc[h, "mean_events_at_best"] == round(sum(cs) / len(cs), 4)


def test_ljung_box_matches_numpy(spark, sf_dir):
    """Numpy replication of the 5-lag ACF and Q; Q >= 0; rho1 agrees
    with ts_autocorr's lag-1 estimator family (same s0 denominator)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_ljung_box"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    n = len(daily)
    mu = daily.mean()
    s0 = ((daily - mu) ** 2).sum()
    q = 0.0
    for k in range(1, 6):
        sk = ((daily[k:] - mu) * (daily[:-k] - mu)).sum()
        q += (sk / s0) ** 2 / (n - k)
        if k == 1:
            assert abs(row.rho1 - round(sk / s0, 4)) <= 1e-4
    q *= n * (n + 2)
    assert row.n_days == n
    assert abs(row.lb_stat - round(q, 4)) <= 2e-3
    assert row.lb_stat >= 0 and row.df == 5


def test_hurst_matches_numpy_rs(spark, sf_dir):
    """Numpy R/S replication (population SD, same chunk rule); H in a
    sane band (0, 1.2)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["agg_hurst_exponent"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    xs, ys = [], []
    used = 0
    for sz in (5, 10, 15):
        rss = []
        for c0 in range(0, len(daily) - sz + 1, sz):
            w = daily[c0 : c0 + sz]
            if len(w) < sz:
                continue
            s = w.std(ddof=0)
            if s == 0:
                continue
            dev = np.cumsum(w - w.mean())
            rss.append((dev.max() - dev.min()) / s)
        if rss:
            xs.append(np.log(sz))
            ys.append(np.log(np.mean(rss)))
            used += len(rss)
    h = np.polyfit(xs, ys, 1)[0]
    assert row.n_days == len(daily)
    assert row.n_chunks_used == used
    assert abs(row.hurst - round(h, 4)) <= 2e-4
    assert 0 < row.hurst < 1.2


def test_hurst_survives_large_daily_revenue(spark, tmp_path):
    """Overflow regression pin (r9 32x probe find): daily revenue cents
    near 5e9 square past int64 — the original BIGINT power sum raised
    ARITHMETIC_OVERFLOW on the engine and the oracle's BIGINT product
    carried the same cliff. The decimal19/HUGEINT rewrite must run AND
    hash-match at this magnitude (≈ sf3-scale daily volume)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    n = 60 * 400  # 60 days x 400 events/day
    days = np.repeat(np.arange(60), 400)
    ts = (np.datetime64("2024-01-01") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    ) + np.arange(n).astype("timedelta64[us]")
    # ~1.2e5 cents/event x 400/day ≈ 5e9 cents/day: rev*rev ≈ 2.5e19 > 2^63
    value = rng.uniform(1.0e3, 1.4e3, n)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "user_id": pa.array(np.arange(n) % 97, pa.int64()),
                "event_type": pa.array(["view"] * n),
                "ts": pa.array(ts),
                "value": pa.array(value, pa.float64()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    spec = SPECS["agg_hurst_exponent"]
    pdf = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    compare_frames(pdf, con.execute(spec.oracle).df(), "hurst[large-rev]")
    assert pdf.n_days.iloc[0] == 60 and 0 < pdf.hurst.iloc[0] < 1.2


def test_pacf_and_cusum_survive_large_daily_volume(spark, tmp_path):
    """Same int64-square class as the hurst pin (r9 32x probe find):
    ts_pacf's lag-product sums and ts_cusum_anomaly's count-square sums
    must survive daily magnitudes whose BIGINT squares cross int64 —
    values scaled so daily cents ~1e14 (squares ~1e28)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table("/root/testdata/sf0.001/events.parquet")
    idx = ev.schema.get_field_index("value")
    ev = ev.set_column(
        idx, ev.schema.field("value"),
        pc.multiply(ev.column("value"), pa.scalar(1e6)),
    )
    pq.write_table(ev, str(tmp_path / "events.parquet"))
    # pacf (rows-only): must run, 7 lags, sane band
    pdf = SPECS["ts_pacf"].fn(spark, str(tmp_path)).toPandas()
    assert len(pdf) == 7 and pdf.acf.abs().max() <= 1.0 + 1e-9
    # cusum (hash): must still hash-match DuckDB at this magnitude
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    spec = SPECS["ts_cusum_anomaly"]
    compare_frames(
        spec.fn(spark, str(tmp_path)).toPandas(),
        con.execute(spec.oracle).df(),
        "cusum[large-volume]",
    )


def test_overlap_duration_pandas(spark, sf_dir):
    """Pandas replication of the closed-form overlap; overlap_hours is
    bounded by 4h x n_overlapping (two 2h windows)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["join_interval_overlap_duration"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("user_id", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    ev["t"] = ev.ts.astype("int64") // 1000
    sess = ev.groupby(["user_id", "day"]).t.agg(["min", "max"]).reset_index()
    sess = sess[sess["min"] < sess["max"]]
    for day, g in sess.groupby("day"):
        day0 = day.value // 1000  # µs midnight
        tot = 0
        n_olap = 0
        for _, r in g.iterrows():
            for h in (3, 14):
                w0, w1 = day0 + h * 3600e6, day0 + (h + 2) * 3600e6
                ov = max(0, min(r["max"], w1) - max(r["min"], w0))
                tot += ov
                n_olap += ov > 0
        key = day.strftime("%Y-%m-%d")
        row = got.loc[key]
        assert row.n_pairs == 2 * len(g)
        assert row.n_overlapping == n_olap
        assert abs(row.overlap_hours - round(tot / 3600e6, 4)) <= 1e-4
        assert row.overlap_hours <= 4.0 * len(g) + 1e-9


def test_mcnemar_cells_and_statistic(spark, sf_dir):
    """Pandas replication; cells partition the subjects; the statistic
    uses only discordants."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_mcnemar"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    ).toPandas()
    g = ev.groupby("user_id").apply(
        lambda d: pd.Series(
            {
                "a": ((d.event_type == "purchase") & (d.event_id % 2 == 0)).any(),
                "b": ((d.event_type == "purchase") & (d.event_id % 2 == 1)).any(),
            }
        ),
        include_groups=False,
    )
    both = (g.a & g.b).sum()
    oa = (g.a & ~g.b).sum()
    ob = (~g.a & g.b).sum()
    nei = (~g.a & ~g.b).sum()
    assert (row.both_halves, row.only_a, row.only_b, row.neither) == (
        both, oa, ob, nei
    )
    assert row.n_subjects == both + oa + ob + nei
    want = 0.0 if oa + ob == 0 else (abs(oa - ob) - 1) ** 2 / (oa + ob)
    assert row.mcnemar_chi2 == round(want, 4)


# --- wave-47 (round 5) -------------------------------------------------------


def test_flesch_python_replication(spark, sf_dir):
    """re-based python replication of the heuristic per language."""
    import re

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["text_flesch_reading_ease"].fn(spark, sf_dir)
        .toPandas().set_index("lang").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    for lang, g in docs.groupby("lang"):
        fres = []
        for t in g.text:
            nw = len([w for w in t.split(" ") if w])
            if nw == 0:
                continue
            ns = max(len([s for s in re.split(r"[.!?]+", t) if s.strip()]), 1)
            sy = max(len(re.findall(r"[aeiouy]+", t.lower())), 1)
            fres.append(206.835 - 1.015 * nw / ns - 84.6 * sy / nw)
        row = got.loc[lang]
        assert row.n_docs == len(fres)
        assert abs(row.mean_fre - round(sum(fres) / len(fres), 4)) <= 1e-3
        assert row.min_fre == round(min(fres), 4)
        assert row.max_fre == round(max(fres), 4)
        assert row.n_very_hard == sum(1 for f in fres if f < 30)


def test_unidirectional_python_sets(spark, sf_dir):
    """Python set replication of the answered/unanswered split."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["flows_unidirectional_ratio"].fn(spark, sf_dir)
        .toPandas().set_index("sa").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("user_id", "event_id").toPandas()
    dirs = set()
    for u, e in zip(ev.user_id, ev.event_id):
        a, b = f"10.0.{u % 50}", f"10.0.{(u + e) % 50}"
        if a != b:
            dirs.add((a, b))
    from collections import defaultdict

    peers = defaultdict(lambda: [0, 0])  # [total, unanswered]
    for a, b in dirs:
        peers[a][0] += 1
        peers[a][1] += (b, a) not in dirs
    for sa, (tot, un) in peers.items():
        if un == 0:
            assert sa not in got.index
            continue
        row = got.loc[sa]
        assert row.n_peers == tot
        assert row.n_unanswered == un
        assert row.unanswered_bp == 10000 * un // tot


def test_deseasonalized_kills_weekday_signal(spark, sf_dir):
    """Numpy replication AND the point of the key: residual weekday
    means are ~0 after adjustment (the weekly swing is gone)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["events_anomaly_deseasonalized"].fn(spark, sf_dir)
        .toPandas().set_index("day").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index()
    )
    dow = daily.index.dayofweek
    resid = daily - daily.groupby(dow).transform("mean")
    z = (resid - resid.mean()) / resid.std(ddof=1)
    for day, want in z.items():
        key = day.strftime("%Y-%m-%d")
        assert abs(got.loc[key, "z"] - round(want, 4)) <= 1e-3
        assert got.loc[key, "is_anomaly"] == (abs(want) > 2.5)
    # weekday means of the residual are zero: deseasonalization worked
    assert np.abs(resid.groupby(dow).mean()).max() < 1e-6


def test_capture_recapture_consistency(spark, sf_dir):
    """Chapman estimate vs pandas replication; with near-complete
    captures the estimate sits within 2% of the observed union and
    never below the recaptured count."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_capture_recapture"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("user_id", "event_id").toPandas()
    g = ev.groupby("user_id").event_id.agg(
        a=lambda s: (s % 2 == 0).any(), b=lambda s: (s % 2 == 1).any()
    )
    n1, n2, m = g.a.sum(), g.b.sum(), (g.a & g.b).sum()
    assert (row.capture_1, row.capture_2, row.recaptured) == (n1, n2, m)
    assert row.observed_union == len(g)
    want = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert row.chapman_estimate == round(want, 4)
    assert row.chapman_estimate >= row.recaptured
    assert abs(row.chapman_estimate - row.observed_union) <= 0.02 * row.observed_union


def test_cochran_armitage_matches_numpy(spark, sf_dir):
    """Numpy replication; |z| finite; the weighted-regression identity
    (z equals the score-test form computed independently)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_cochran_armitage"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), hit=(ev.event_type == "purchase"))
        .groupby("day").hit.agg(["sum", "size"]).sort_index()
    )
    k = daily["sum"].to_numpy(dtype=float)
    n = daily["size"].to_numpy(dtype=float)
    t = np.arange(len(k), dtype=float)
    N, K = n.sum(), k.sum()
    p = K / N
    z = ((k * t).sum() - K * (n * t).sum() / N) / np.sqrt(
        p * (1 - p) * ((n * t * t).sum() - (n * t).sum() ** 2 / N)
    )
    assert row.n_events == N and row.n_hits == K
    assert abs(row.z - round(z, 4)) <= 1e-4
    assert row.overall_rate == round(p, 4)
    assert np.isfinite(row.z)


# --- wave-48 (round 5) -------------------------------------------------------


def test_hodges_lehmann_numpy(spark, sf_dir):
    """Numpy Walsh-average replication; HL sits between min and max of
    (mean, median) neighborhood under near-symmetry."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_hodges_lehmann"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    n = len(daily)
    walsh = [
        (daily[i] + daily[j]) / 2 for i in range(n) for j in range(i, n)
    ]
    assert row.n_days == n
    assert row.n_walsh == n * (n + 1) // 2
    assert row.hl_estimate == round(np.percentile(walsh, 50) / 100, 4)
    assert row.plain_mean == round(daily.mean() / 100, 4)
    assert row.plain_median == round(np.percentile(daily, 50) / 100, 4)


def test_systematic_exact_membership(spark, sf_dir):
    """Python replication of the every-100th-from-7 selection; the
    checksum pins exact membership."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["sample_systematic"].fn(spark, sf_dir).toPandas().iloc[0]
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).toPandas().sort_values("o_orderkey").reset_index(drop=True)
    picked = o.iloc[7::100]
    assert row.n_sampled == len(picked)
    assert row.key_checksum == picked.o_orderkey.sum()
    assert row.sample_mean == round(picked.o_totalprice.mean(), 4)
    assert row.pop_mean == round(o.o_totalprice.mean(), 4)
    # key-ordered frame is unrelated to price: sample mean near pop mean
    assert abs(row.sample_mean - row.pop_mean) < 0.2 * row.pop_mean


def test_trimmed_mean_numpy_and_relation(spark, sf_dir):
    """Numpy replication; kept-count ≈ 80% of the group; trimmed mean
    lies within the [p10, p90] band."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_trimmed_mean"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    for et, g in ev.groupby("event_type"):
        v = g.value.to_numpy()
        lo, hi = np.percentile(v, [10, 90])
        kept = v[(v >= lo) & (v <= hi)]
        row = got.loc[et]
        assert row.n_kept == len(kept)
        assert row.trimmed_mean == round(kept.mean(), 4)
        assert row.plain_mean == round(v.mean(), 4)
        assert lo - 1e-9 <= row.trimmed_mean <= hi + 1e-9
        assert 0.75 * len(v) <= row.n_kept <= 0.85 * len(v)


def test_theil_sen_numpy_and_robustness(spark, sf_dir):
    """Numpy pairwise-slope replication; corrupting one day moves the
    OLS slope more than Theil-Sen (the robustness claim itself)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ts_theil_sen"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    n = len(daily)
    i = np.arange(1, n + 1, dtype=float)
    slopes = [
        (daily[j] - daily[k]) / (j - k)
        for k in range(n)
        for j in range(k + 1, n)
    ]
    ts = np.percentile(slopes, 50)
    ols = np.polyfit(i, daily, 1)[0]
    assert row.n_days == n and row.n_slopes == n * (n - 1) // 2
    assert row.theil_sen_slope == round(ts / 100, 4)
    assert abs(row.ols_slope - round(ols / 100, 4)) <= 1e-3
    # robustness: one 100x day shifts OLS far more than Theil-Sen
    poisoned = daily.copy()
    poisoned[n // 2] *= 100
    p_slopes = [
        (poisoned[j] - poisoned[k]) / (j - k)
        for k in range(n)
        for j in range(k + 1, n)
    ]
    ts_shift = abs(np.percentile(p_slopes, 50) - ts)
    ols_shift = abs(np.polyfit(i, poisoned, 1)[0] - ols)
    assert ts_shift < ols_shift / 5


def test_dose_response_laws(spark, sf_dir):
    """Decile sizes differ by <=1, exposure is monotone across deciles,
    conversion_bp matches its integer definition."""
    got = (
        SPECS["events_dose_response"].fn(spark, sf_dir)
        .toPandas().sort_values("decile").reset_index(drop=True)
    )
    assert list(got.decile) == list(range(1, 11))
    assert got.n_users.max() - got.n_users.min() <= 1
    assert got.mean_exposure.is_monotonic_increasing
    for _, r in got.iterrows():
        assert r.conversion_bp == 10000 * r.n_converted // r.n_users
        assert 0 <= r.n_converted <= r.n_users


# --- wave-49 (round 5) -------------------------------------------------------


def test_dynamic_partition_overwrite_contract(spark, sf_dir):
    """THE mode's contract: only the overwritten partition's sums
    change; every partition's rows survive; nothing disappears (the
    static-mode wipe would zero four of five partitions)."""
    got = (
        SPECS["sink_dynamic_partition_overwrite"].fn(spark, sf_dir)
        .toPandas().set_index("event_type")
    )
    assert len(got) == 5
    assert got.rows_intact.all()  # dynamic overwrite loses no rows
    assert not got.loc["purchase", "sums_intact"]  # the new batch landed
    others = got.drop(index="purchase")
    assert others.sums_intact.all()  # untouched partitions byte-stable
    assert (got.rows_after > 0).all()


def test_hapax_counter_replication(spark, sf_dir):
    """collections.Counter replication; hapax <= vocab; the synthetic
    closed-vocabulary corpus has near-zero hapax share (the documented
    contrast with natural text)."""
    import collections

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["text_hapax_ratio"].fn(spark, sf_dir)
        .toPandas().set_index("lang").sort_index()
    )
    docs = _table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    for lang, g in docs.groupby("lang"):
        cnt = collections.Counter(
            w for t in g.text for w in t.lower().split(" ") if w
        )
        row = got.loc[lang]
        assert row.vocab == len(cnt)
        assert row.tokens == sum(cnt.values())
        assert row.hapax == sum(1 for c in cnt.values() if c == 1)
        assert row.dis_legomena == sum(1 for c in cnt.values() if c == 2)
        assert row.hapax_vocab_bp == 10000 * row.hapax // row.vocab
        assert row.hapax <= row.vocab


def test_sign_test_matches_python_and_ladder(spark, sf_dir):
    """Python replication; n = pos + neg; the sign-test z agrees in
    SIGN with Wilcoxon's z on the same pairs (the ladder is
    coherent)."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_sign_test"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    ).toPandas().dropna(subset=["value"])
    x = ev[ev.event_id % 2 == 0].groupby("user_id").value.mean()
    y = ev[ev.event_id % 2 == 1].groupby("user_id").value.mean()
    d = (y - x).dropna().round(6)
    d = d[d != 0]
    k, n = (d > 0).sum(), len(d)
    z = (k - n / 2) / (n / 4) ** 0.5
    assert (row.n_pairs, row.n_positive, row.n_negative) == (n, k, n - k)
    assert row.z == round(z, 4)
    wz = SPECS["stats_wilcoxon_signed_rank"].fn(spark, sf_dir).toPandas().iloc[0].z
    if abs(row.z) > 0.5 and abs(wz) > 0.5:
        assert (row.z > 0) == (wz > 0)


def test_distance_histogram_numpy(spark, sf_dir):
    """Numpy replication of the binning and moments; bins partition all
    pairs; rel_spread > 0 (the sample is not degenerate)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["emb_distance_histogram"].fn(spark, sf_dir)
        .toPandas().set_index("bin").sort_index()
    )
    emb = (
        _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        .filter("vec_id < 100").toPandas().sort_values("vec_id")
    )
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    n = len(X)
    dists = []
    for i in range(n):
        d = np.sqrt(((X[i + 1 :] - X[i]) ** 2).sum(axis=1))
        dists.extend(d)
    dists = np.array(dists)
    dmin, dmax = dists.min(), dists.max()
    width = (dmax - dmin) / 10
    bins = np.minimum(np.floor((dists - dmin) / width).astype(int), 9)
    assert got.n_pairs.sum() == n * (n - 1) // 2
    for b in got.index:
        assert got.loc[b, "n_pairs"] == (bins == b).sum()
    assert got.mean_dist.iloc[0] == round(dists.mean(), 4)
    assert got.rel_spread.iloc[0] == round(dists.std(ddof=1) / dists.mean(), 4)
    assert got.rel_spread.iloc[0] > 0


def test_kappa_matches_sklearn_free_formula(spark, sf_dir):
    """Pandas replication of the 2x2 and kappa; kappa <= observed
    agreement's headroom (kappa <= 1); the engineered raters are
    near-independent so |kappa| is small."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ml_cohens_kappa"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("value").toPandas().dropna()
    a = ev.value >= 100
    b = ((ev.value // 50).astype(int) % 2) == 0
    n = len(ev)
    po = ((a & b) | (~a & ~b)).mean()
    pe = (a.mean() * b.mean()) + ((1 - a.mean()) * (1 - b.mean()))
    kappa = (po - pe) / (1 - pe)
    assert row.n == n
    assert abs(row.observed_agreement - round(po, 4)) <= 1e-4
    assert abs(row.chance_agreement - round(pe, 4)) <= 1e-4
    assert abs(row.kappa - round(kappa, 4)) <= 2e-4
    assert -1 <= row.kappa <= 1
    assert abs(row.kappa) < 0.2  # engineered near-independence


# --- wave-50 (round 5) -------------------------------------------------------


def test_join_cardinality_equals_actual_join(spark, sf_dir):
    """THE claim: exact_join_rows equals the materialized join's count
    (computed without materializing it); F2 >= NDV."""
    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["maint_join_cardinality_exact"].fn(spark, sf_dir).toPandas().iloc[0]
    o = _table(spark, sf_dir, "orders").select("o_orderkey")
    li = _table(spark, sf_dir, "lineitem").select("l_orderkey")
    actual = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert row.exact_join_rows == actual
    assert row.ndv_matched <= min(row.ndv_orders, row.ndv_lineitem)
    assert row.f2_lineitem >= row.ndv_lineitem
    assert row.max_key_contribution >= 1


def test_lang_divergence_null_case_and_bounds(spark, sf_dir):
    """JSD in [0, 1]; the shared-word-pool fixture yields near-zero
    divergence everywhere (the pinned null case); support equality
    holds (the shared-char sum is the complete JSD); scipy-free numpy
    replication."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["text_lang_divergence"].fn(spark, sf_dir).toPandas()
    docs = _table(spark, sf_dir, "documents").select("lang", "text").toPandas()
    from collections import Counter

    dists = {}
    for lang, g in docs.groupby("lang"):
        cnt = Counter(ch for t in g.text for ch in t.lower() if ch != " ")
        tot = sum(cnt.values())
        dists[lang] = {ch: c / tot for ch, c in cnt.items()}
    langs = sorted(dists)
    supports = [set(d) for d in dists.values()]
    assert all(s == supports[0] for s in supports)  # shared support
    for _, r in got.iterrows():
        pa, pb = dists[r.lang_a], dists[r.lang_b]
        jsd = 0.0
        for ch in set(pa) | set(pb):
            x, y = pa.get(ch, 0.0), pb.get(ch, 0.0)
            m = (x + y) / 2
            if x > 0:
                jsd += 0.5 * x * np.log2(x / m)
            if y > 0:
                jsd += 0.5 * y * np.log2(y / m)
        assert abs(r.jsd - round(jsd, 4)) <= 2e-4
        assert 0 <= r.jsd <= 1
        assert r.jsd < 0.01  # shared pool: near-zero divergence
    assert len(got) == len(langs) * (len(langs) - 1) // 2


def test_shingle_curve_monotone_and_k3_reconciles(spark, sf_dir):
    """Candidates decline monotonically with k; the k=3 qualifying
    count equals dedup_ngram_jaccard's pair count (same threshold,
    same shingles)."""
    got = (
        SPECS["dedup_shingle_size_curve"].fn(spark, sf_dir)
        .toPandas().set_index("shingle_k").sort_index()
    )
    assert list(got.index) == [2, 3, 5]
    assert got.n_candidates.is_monotonic_decreasing
    assert (got.n_pairs_j30 <= got.n_candidates).all()
    base = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir).count()
    assert got.loc[3, "n_pairs_j30"] == base


def test_grubbs_matches_numpy(spark, sf_dir):
    """Numpy replication of G and the suspect-day argmax."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_grubbs"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.strftime("%Y-%m-%d"),
                  c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum()
    )
    dev = (daily - daily.mean()).abs()
    g = dev.max() / daily.std(ddof=1)
    assert row.n_days == len(daily)
    assert abs(row.g_stat - round(g, 4)) <= 1e-4
    assert row.suspect_day == dev.idxmax()
    assert row.suspect_revenue == round(daily[dev.idxmax()] / 100, 4)
    assert row.g_stat > 0


def test_block_bootstrap_python_replication(spark, sf_dir):
    """Exact python replication of the deterministic block draw and
    the CI; ci_lo <= boot_mean <= ci_hi."""
    import math

    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table
    from nfdump2clickhouse_spark.operators.stats import (
        _BB_BLOCK, _BB_MULT, _BB_REPS,
    )

    row = SPECS["stats_block_bootstrap"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    nd = len(daily)
    n_blocks = math.ceil(nd / _BB_BLOCK)
    means = []
    for r in range(_BB_REPS):
        vals = []
        for b in range(n_blocks):
            start = ((r * 1000003 + b * 7919) * _BB_MULT) % 4294967296 % (
                nd - _BB_BLOCK + 1
            )
            vals.extend(daily[start : start + _BB_BLOCK])
        means.append(np.mean(vals))
    assert row.n_days == nd and row.n_replicates == _BB_REPS
    assert row.boot_mean == round(np.mean(means) / 100, 4)
    assert row.ci_lo == round(np.percentile(means, 2.5) / 100, 4)
    assert row.ci_hi == round(np.percentile(means, 97.5) / 100, 4)
    assert row.ci_lo <= row.boot_mean <= row.ci_hi


# --- wave-51 (round 5) -------------------------------------------------------


def test_average_precision_numpy_and_bounds(spark, sf_dir):
    """Numpy replication of AP; base_rate <= AP <= 1 (a score ranking
    can't do worse than random in expectation on this fixture —
    verified empirically, not assumed)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ml_eval_average_precision"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    ev = ev.sort_values(["value", "event_id"], ascending=[False, True])
    y = (ev.event_type == "purchase").to_numpy(dtype=int)
    tp = np.cumsum(y)
    rnk = np.arange(1, len(y) + 1)
    ap = (tp[y == 1] / rnk[y == 1]).sum() / y.sum()
    assert row.n == len(y) and row.n_pos == y.sum()
    assert abs(row.average_precision - round(ap, 4)) <= 1e-4
    assert row.base_rate == round(y.mean(), 4)
    assert 0 <= row.average_precision <= 1


def test_average_precision_zero_positives_parity(spark, tmp_path):
    """pos==0 with n>0: AP is undefined, and BOTH engines must return
    empty — the engine's early return is mirrored by the oracle's
    HAVING tot.pos > 0 guard (ADVICE r6: without the guard, the oracle
    emitted one divide-by-zero row while the engine emitted none)."""
    import duckdb

    from tests.conftest import SMALL_SF_DIR

    ev = (
        spark.read.parquet(os.path.join(SMALL_SF_DIR, "events.parquet"))
        .filter("event_type <> 'purchase'")
        .toPandas()
    )
    assert len(ev) > 0
    out = str(tmp_path / "events.parquet")
    ev.to_parquet(out)
    spec = SPECS["ml_eval_average_precision"]
    pdf = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{out}')")
    opdf = con.execute(spec.oracle).df()
    assert len(pdf) == 0 and len(opdf) == 0


def test_friedman_matches_numpy_ranks(spark, sf_dir):
    """Numpy average-rank replication of the Friedman statistic."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_friedman_test"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).toPandas()
    ev["day"] = ev.ts.dt.strftime("%Y-%m-%d")
    ev["c"] = (ev.value.fillna(0) * 100).apply(int)
    cell = ev.groupby(["day", "event_type"]).c.sum().unstack()
    ranks = cell.rank(axis=1, method="average")
    rsums = ranks.sum(axis=0)
    n, k = cell.shape
    chi2 = 12.0 / (n * k * (k + 1)) * (rsums ** 2).sum() - 3 * n * (k + 1)
    assert row.n_blocks == n and row.k_treatments == k
    assert abs(row.friedman_chi2 - round(chi2, 4)) <= 2e-3
    assert row.friedman_chi2 >= 0


def test_durbin_watson_numpy_and_range(spark, sf_dir):
    """Numpy replication; DW in (0, 4)."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_durbin_watson"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    t = np.arange(1, len(daily) + 1, dtype=float)
    b1, b0 = np.polyfit(t, daily, 1)
    e = daily - b0 - b1 * t
    dw = (np.diff(e) ** 2).sum() / (e ** 2).sum()
    assert row.n_days == len(daily)
    assert abs(row.dw_stat - round(dw, 4)) <= 1e-3
    assert 0 < row.dw_stat < 4


def test_repeat_purchase_pandas(spark, sf_dir):
    """Pandas replication of the nth-purchase extraction; repeat share
    in [0, 1]; gap nonnegative."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["events_repeat_purchase"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).toPandas()
    p = ev[ev.event_type == "purchase"].copy()
    p["t"] = p.ts.astype("int64") // 1000
    p = p.sort_values(["user_id", "t", "event_id"])
    gaps = []
    n_repeat = 0
    buyers = p.user_id.nunique()
    for _, g in p.groupby("user_id"):
        if len(g) >= 2:
            n_repeat += 1
            gaps.append((g.t.iloc[1] - g.t.iloc[0]) / 3600e6)
    assert row.n_buyers == buyers
    assert row.n_repeat == n_repeat
    assert row.repeat_bp == 10000 * n_repeat // buyers
    assert abs(row.mean_gap_h - round(np.mean(gaps), 4)) <= 1e-4
    assert abs(row.p50_gap_h - round(np.percentile(gaps, 50), 4)) <= 1e-4
    assert row.mean_gap_h >= 0


def test_unpivot_multi_reconciles_with_wide(spark, sf_dir):
    """Long form carries exactly 4 metrics per flag and the values
    equal the wide aggregate's."""
    from nfdump2clickhouse_spark.catalog import table as _table

    got = SPECS["reshape_unpivot_multi"].fn(spark, sf_dir).toPandas()
    li = _table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_discount"
    ).toPandas()
    for flag, g in li.groupby("l_returnflag"):
        sub = got[got.flag == flag].set_index("metric")
        assert len(sub) == 4
        assert sub.loc["revenue", "value"] == round(
            round(g.l_extendedprice.sum(), 2), 4
        )
        assert sub.loc["quantity", "value"] == round(round(g.l_quantity.sum(), 2), 4)
        assert sub.loc["avg_discount", "value"] == round(
            round(g.l_discount.mean(), 6), 4
        )
        assert sub.loc["n_items", "value"] == float(len(g))


# --- wave-52 (round 5) -------------------------------------------------------


def test_tukey_fences_numpy(spark, sf_dir):
    """Numpy replication; fence_lo < fence_hi; outliers consistent."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    got = (
        SPECS["agg_tukey_fences"].fn(spark, sf_dir)
        .toPandas().set_index("event_type").sort_index()
    )
    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).toPandas().dropna(subset=["value"])
    for et, g in ev.groupby("event_type"):
        v = g.value.to_numpy()
        q1, q3 = np.percentile(v, [25, 75])
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        row = got.loc[et]
        # tolerance, not equality: python round() is banker's, the
        # engines round half-up — they differ at exact .5 boundaries
        assert abs(row.fence_lo - lo) <= 1e-4 and abs(row.fence_hi - hi) <= 1e-4
        assert row.n_low_outliers == (v < lo).sum()
        assert row.n_high_outliers == (v > hi).sum()
        assert row.fence_lo < row.fence_hi
        assert row.outlier_bp == 10000 * (
            (v < lo).sum() + (v > hi).sum()
        ) // len(v)


def test_mase_matches_numpy_and_identity(spark, sf_dir):
    """Numpy replication; MASE == mae_snaive/mae_naive up to the
    rounding of the display columns."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["ts_forecast_mase"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("ts", "value").toPandas()
    daily = (
        ev.assign(day=ev.ts.dt.floor("D"), c=(ev.value.fillna(0) * 100).apply(int))
        .groupby("day").c.sum().sort_index().to_numpy(dtype=float)
    )
    snaive_err = np.abs(daily[7:] - daily[:-7])
    naive_err = np.abs(daily[1:] - daily[:-1])
    assert row.n_scored == len(snaive_err)
    assert row.mae_snaive == round(snaive_err.mean() / 100, 4)
    assert row.mae_naive == round(naive_err.mean() / 100, 4)
    assert row.mase == round(snaive_err.mean() / naive_err.mean(), 4)
    assert row.mase > 0


def test_one_sample_t_numpy(spark, sf_dir):
    """Numpy replication of t against the mu0=100 benchmark."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["stats_one_sample_t"].fn(spark, sf_dir).toPandas().iloc[0]
    ev = _table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    v = ev[ev.event_type == "purchase"].value.dropna().to_numpy()
    t = (v.mean() - 100.0) / (v.std(ddof=1) / np.sqrt(len(v)))
    assert row.n == len(v) and row.df == len(v) - 1
    assert row.sample_mean == round(v.mean(), 4)
    assert abs(row.t_stat - round(t, 4)) <= 1e-4


def test_anisotropy_identity_vs_bruteforce(spark, sf_dir):
    """THE identity pin: the one-pass sum-vector form must equal the
    brute-force all-pairs mean cosine computed in numpy."""
    import numpy as np

    from nfdump2clickhouse_spark.catalog import table as _table

    row = SPECS["emb_anisotropy"].fn(spark, sf_dir).toPandas().iloc[0]
    emb = _table(spark, sf_dir, "embeddings").select("embedding").toPandas()
    X = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    n = len(U)
    G = U @ U.T
    brute = (G.sum() - np.trace(G)) / (n * (n - 1))
    assert row.n_vectors == n
    assert abs(row.mean_pairwise_cosine - round(brute, 4)) <= 2e-4
    assert row.mean_vector_norm == round(np.linalg.norm(U.sum(axis=0)) / n, 4)
    assert -1 <= row.mean_pairwise_cosine <= 1


def test_lateral_alias_chain_semantics(spark, sf_dir):
    """The alias chain must see the previous alias's ALREADY-ROUNDED
    value (not a re-derivation) — verified against the expanded
    computation."""
    got = SPECS["sql_lateral_alias"].fn(spark, sf_dir).toPandas()
    for _, r in got.iterrows():
        assert r.net_per_item == round(r.net / r.n, 4)
        assert r.net_per_item_taxed == round(r.net_per_item * 1.1, 4)


# --- round-6 scale-rework semantic pins --------------------------------------


def test_fuzzy_levenshtein_edge_semantics(spark, tmp_path):
    """The r6 scale rework of `dedup_fuzzy_levenshtein` (equality fast
    path, length-band prefilter, gated repartition) must be a semantic
    no-op. Engineered cases: an exact duplicate pairs at lev=0 via the
    fast path; an in-band suffix extension keeps its exact DP distance;
    a same-block pair outside the 30% length band is dropped (band
    prefilter and lev threshold agree — lev >= |len1-len2|); a doc with
    different first-3 words never becomes a candidate."""
    from nfdump2clickhouse_spark.catalog import FIXTURE_SCHEMAS

    base = "alpha beta gamma " + "a" * 18  # len 35, block "alpha beta gamma"
    docs = [
        (1, base, "en", "t", len(base)),
        (2, base, "en", "t", len(base)),                    # exact dup of 1
        (3, base + "b" * 14, "en", "t", len(base) + 14),    # lev 14 <= 0.3*49
        (4, base + "b" * 40, "en", "t", len(base) + 40),    # |diff| 40 > 0.3*75
        (5, "zeta eta theta " + base, "en", "t", len(base) + 15),  # other block
    ]
    spark.createDataFrame(docs, FIXTURE_SCHEMAS["documents"]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = (
        SPECS["dedup_fuzzy_levenshtein"].fn(spark, str(tmp_path))
        .toPandas().sort_values(["id1", "id2"]).reset_index(drop=True)
    )
    assert [tuple(r) for r in got.itertuples(index=False)] == [
        (1, 2, 0),   # equality fast path
        (1, 3, 14),  # exact DP distance survives the rework
        (2, 3, 14),
    ]


def test_corr_matrix_pairwise_complete_nulls(spark, tmp_path):
    """ADVICE r9 medium regression pin: when x and y have NON-coinciding
    NULLs, DuckDB's corr() computes every moment over the pairwise-
    complete set (rows where BOTH are non-null). The engine's
    try_divide(covar, sx*sy) rewrite must condition each stddev on the
    partner column or it diverges exactly here — the nullmix fixture
    NULLs all value columns on the same rows, so only this dedicated
    fixture can catch the gap."""
    import duckdb
    import pandas as pd

    rows = []
    for i in range(40):
        rows.append(
            {
                "l_quantity": None if i % 3 == 0 else float(i % 7 + 1),
                "l_extendedprice": None if i % 5 == 0 else 100.0 + 13.7 * (i % 11),
                "l_discount": None if i % 4 == 1 else 0.01 * (i % 9),
                "l_tax": float(i % 5) * 0.02,
            }
        )
    pd.DataFrame(rows).to_parquet(str(tmp_path / "lineitem.parquet"))
    spec = SPECS["stats_corr_matrix"]
    pdf = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    compare_frames(pdf, con.execute(spec.oracle).df(), "corr[pairwise-null]")


def test_ks_scaled_statistic_survives_large_separated_samples(spark, tmp_path):
    """ADVICE r9 low regression pin: with the two hash halves fully
    separated, max_diff == n0*n1, so at 4.6M rows the old BIGINT
    scaled numerator `2 * max_diff * 1000000` crosses 2^63 (cliff at
    max_diff ~ 4.61e12) on BOTH engines. The decimal(38,0)/HUGEINT
    rewrite must run AND hash-match here; `stats_mann_whitney` shares
    the fixture as a decimal-path parity check (its early cliffs sit
    at driver-int magnitudes no fixture can reach)."""
    import duckdb

    n = 4_600_000
    gen = duckdb.connect()
    gen.execute(
        f"""
        COPY (
          SELECT i AS l_orderkey,
                 CAST(1 AS INT) AS l_linenumber,
                 CAST(1000000.0 * (CAST(('0x' || substr(md5(CAST(i * 10 + 1
                        AS VARCHAR)), 1, 8)) AS BIGINT) % 2)
                      + i % 1000 AS DOUBLE) AS l_extendedprice
          FROM range({n}) t(i)
        ) TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    spec = SPECS["stats_ks_test"]
    pdf = spec.fn(spark, str(tmp_path)).toPandas()
    compare_frames(pdf, con.execute(spec.oracle).df(), "ks[large-sep]")
    # the fixture really does cross the old int64 cliff
    assert int(pdf.max_diff.iloc[0]) > 4_611_686_018_428  # 2^63 / 2e6
    mw = SPECS["stats_mann_whitney"]
    compare_frames(
        mw.fn(spark, str(tmp_path)).toPandas(),
        con.execute(mw.oracle).df(),
        "mw[large-sep]",
    )


def test_scaled_e6_statistics_survive_multimillion_counts(spark, tmp_path):
    """r10 class-audit regression pins (the ks/hurst int64 cliff class,
    VERDICT r9 next-#8): each fixture is sized JUST past the old BIGINT
    cliff of its key's e6-scaled numerator, and each key must run AND
    hash-match DuckDB there.

    - ml_eval_auc: s2 ~ 2*P*N with 2e6 scaling cliffs at P*N ~ 2.3e12
      (balanced halves of ~3.2M scored rows);
    - stats_chi2_srm: (na-nb)^2 * 1e6 cliffs at |na-nb| ~ 3.03e6 (one
      event_type fed ONLY arm-0 users — the gross mismatch the gate
      exists to flag);
    - events_association_rules: lift numerator n_both*n_users*1e6
      cliffs at ~3.03e6 users all holding both items."""
    import duckdb

    gen = duckdb.connect()
    # one events table serves all three keys: 3.4M arm-0 users (of a
    # 7M candidate range), each with a 'view' and a 'purchase' row;
    # purchases score high, views low -> AUC=1, P=N=n_users.
    mult = 2654435761
    gen.execute(
        f"""
        COPY (
          WITH u AS (
            SELECT i AS user_id FROM range(1, 7000000) t(i)
            WHERE (i * {mult}) % 4294967296 % 2 = 0
          ),
          r AS (SELECT user_id, ROW_NUMBER() OVER (ORDER BY user_id) AS rn
                FROM u)
          SELECT rn * 2 - o.k AS event_id, user_id,
                 CASE o.k WHEN 0 THEN 'purchase' ELSE 'view' END
                   AS event_type,
                 TIMESTAMP '2024-01-01' + INTERVAL (rn % 86400) SECOND AS ts,
                 CAST(CASE o.k WHEN 0 THEN 500 + rn % 100
                      ELSE 10 + rn % 100 END AS DOUBLE) AS value
          FROM r, (VALUES (0), (1)) AS o(k)
        ) TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
        """
    )
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    n_users = con.execute("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    assert n_users > 3_100_000  # all three cliffs crossed
    for key in ("ml_eval_auc", "stats_chi2_srm", "events_association_rules"):
        spec = SPECS[key]
        compare_frames(
            spec.fn(spark, str(tmp_path)).toPandas(),
            con.execute(spec.oracle).df(),
            f"{key}[multimillion]",
        )
