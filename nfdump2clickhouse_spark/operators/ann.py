"""Embedding and approximate-nearest-neighbor operators (``ann_*``, ``emb_*``).

Brute-force cosine top-k is the correctness baseline; IVF cell-probing
and product quantization are the scale path. The ``emb_*`` keys
post-process embeddings (normalization, quantization, projection,
whitening) and report their geometry.

At 100 TB: the query set broadcasts against a partitioned vector table;
IVF assignment is one broadcast join against the centroid table (k×dim,
tiny), and probing touches only the probed cells' partitions — write the
vector table partitioned by cell id to get partition pruning.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions.similarity import as_double, cosine, dot, l2_norm
from ..registry import register


# --- single-pass distributed PCA ---------------------------------------------
@register("emb_pca_project")  # rows-only: eigendecomposition has no SQL analog
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, the one-pass shape that scales: (1) mapInPandas
    computes per-Arrow-batch Gram partials Xᵀ X and feature sums with one
    numpy GEMM each — emitting a fixed 64×64 matrix per batch regardless
    of row count; (2) a tiny reduce sums them (shuffle volume: P·64²
    doubles, independent of corpus size); (3) the driver eigendecomposes
    the 64×64 covariance (O(dim³), constant); (4) top-4 components are
    broadcast back as a literal and projection is one vectorized GEMM per
    batch. No iteration, no per-row Python, no N×dim collect. Rows-only:
    tests/test_correctness.py pins variance-explained and
    reconstruction-orthogonality against numpy's full PCA instead.
    """
    import numpy as np
    import pandas as pd

    # a NULL embedding is un-projectable (r9 edge batch, nullmix mode:
    # None cells would break the np.stack in every Arrow batch)
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    dim = 64

    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(X.shape[0])],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = e.select("embedding").mapInPandas(
        gram_partials, "n double, s array<double>, g array<double>"
    )
    agg = parts.agg(
        F.sum("n").alias("n"),
        F.array(*[F.sum(F.element_at("s", i + 1)) for i in range(dim)]).alias("s"),
    )
    # gram matrix reduced the same way but via explode to keep the agg
    # expression count bounded: 4096 positions → (pos, val) rows
    gsum = (
        parts.select(F.posexplode("g").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("v"))
        .collect()
    )
    row = agg.collect()[0]
    if not row["n"]:
        # empty corpus (r9 edge batch, class-3 guard): the global agg's
        # one row carries NULL totals — no moments to decompose, return
        # the schema-stable empty projection instead of None arithmetic
        return spark.createDataFrame(
            [], "vec_id long, pc1 double, pc2 double, pc3 double, pc4 double"
        )
    n_rows, s = row["n"], np.array(row["s"])
    G = np.zeros(dim * dim)
    for r in gsum:
        G[r["pos"]] = r["v"]
    G = G.reshape(dim, dim)
    mean = s / n_rows
    cov = G / n_rows - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, ::-1][:, :4]  # top-4 components, (dim, 4)
    # deterministic sign: force the largest-|coeff| entry positive
    for j in range(4):
        i = int(np.abs(comps[:, j]).argmax())
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    comps_b = comps.copy()
    mean_b = mean.copy()

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = (X - mean_b) @ comps_b
            out = pd.DataFrame(P.round(4), columns=["pc1", "pc2", "pc3", "pc4"])
            out.insert(0, "vec_id", pdf["vec_id"].to_numpy())
            yield out

    return e.mapInPandas(
        project, "vec_id long, pc1 double, pc2 double, pc3 double, pc4 double"
    )


# --- Matryoshka truncation ---------------------------------------------------
_MRL_DIM = 16


@register(
    "emb_matryoshka_truncate",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding[1:{_MRL_DIM}], x -> CAST(x AS DOUBLE))
               AS emb
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, emb,
             sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum'))
               AS nrm
      FROM e
    )
    SELECT vec_id, ROUND(nrm, 4) AS sub_l2,
           ROUND(emb[1] / nrm, 4) + 0 AS u0,
           ROUND(emb[2] / nrm, 4) + 0 AS u1
    FROM n WHERE nrm > 0
    """,
)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation: keep the first 16 of 64 dims and
    re-L2-normalize — the 4× index/bandwidth saving modern embedding
    models are trained to tolerate (candidate retrieval runs on the
    prefix; full-dim rescoring only on survivors). Row-local slice +
    HOF fold, zero shuffle; the retained-recall contract vs full-dim
    brute force is pinned in tests — the number that decides whether
    the cheap prefix index is usable."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice(as_double("embedding"), 1, _MRL_DIM).alias("emb")
    )
    nrm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x))
    return (
        e.select("vec_id", "emb", nrm.alias("nrm"))
        .filter(F.col("nrm") > 0)
        .select(
            "vec_id",
            F.round("nrm", 4).alias("sub_l2"),
            (F.round(F.get("emb", 0) / F.col("nrm"), 4) + 0).alias("u0"),
            (F.round(F.get("emb", 1) / F.col("nrm"), 4) + 0).alias("u1"),
        )
    )


@register(
    "emb_normalize",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, emb,
             sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm
      FROM e
    )
    SELECT vec_id, ROUND(nrm, 4) AS l2,
           ROUND(emb[1] / nrm, 4) + 0 AS u0,
           ROUND(emb[2] / nrm, 4) + 0 AS u1,
           ROUND(emb[3] / nrm, 4) + 0 AS u2
    FROM n
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings (the prerequisite for cosine-as-dot ANN
    indexes: normalize once at ingest, then every similarity is a plain
    dot product). Pure zip_with/aggregate HOFs, zero shuffle; the fold
    is sequential so the norm is bit-identical to the oracle's ordered
    list sum."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    nrm = l2_norm(F.col("emb"))
    # "+ 0" canonicalizes -0.0 → 0.0 in both engines (SURVEY §8 recipe)
    return e.select(
        "vec_id",
        F.round(nrm, 4).alias("l2"),
        (F.round(F.get("emb", 0) / nrm, 4) + 0).alias("u0"),
        (F.round(F.get("emb", 1) / nrm, 4) + 0).alias("u1"),
        (F.round(F.get("emb", 2) / nrm, 4) + 0).alias("u2"),
    )


@register(
    "emb_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, emb,
             greatest(list_aggregate(list_transform(emb, x -> abs(x)), 'max'),
                      1e-30) AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, emb, scale,
             list_transform(emb, x -> CAST(round(127 * x / scale) AS INT)) AS qv
      FROM s
    )
    SELECT vec_id, ROUND(scale, 4) AS scale,
           qv[1] AS q0, qv[2] AS q1, qv[3] AS q2,
           floor(list_aggregate(
                   [pow(emb[i] - qv[i] * scale / 127, 2)
                    for i in generate_series(1, len(emb))],
                   'sum') / len(emb) * 1000000 + 0.5 + 1e-9) / 1000000 AS mse
    FROM q
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the 4× storage cut every
    100 TB vector corpus takes before indexing): scale = max |x|,
    q = round(127·x/scale), plus the dequantization MSE as the quality
    audit column. All array HOFs in codegen — no Python, no shuffle;
    quantized vectors are emitted as spot-check elements because hashing
    the full int array adds nothing the MSE doesn't already cover."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # greatest(·, 1e-30): an all-zero embedding would otherwise divide by
    # zero — NaN q-values here, a hard NaN→INT cast error in the oracle
    # (ADVICE r1); with the floor the degenerate vector quantizes to all
    # zeros with mse 0 on both engines
    scale = F.greatest(F.array_max(F.transform("emb", F.abs)), F.lit(1e-30))
    # internal name deliberately differs from the output alias "scale":
    # with identical names, Spark's implicit LATERAL column alias
    # resolution would bind the mse expression below to the ROUNDED
    # output column that precedes it in the select list, silently
    # dequantizing with round(scale, 4) instead of scale
    s = e.select("vec_id", "emb", scale.alias("_scale"))
    q = s.withColumn(
        "qv",
        F.transform("emb", lambda x: F.round(x * 127 / F.col("_scale"), 0).cast("int")),
    )
    err = F.zip_with(
        "emb",
        "qv",
        lambda x, qq: F.pow(x - qq.cast("double") * F.col("_scale") / 127, 2),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x) / F.size("emb")
    # epsilon half-up rounding (mse ≥ 0): the quantization error can land
    # exactly on a .5e-6 boundary where engine ulp noise flips the 6th
    # decimal — same recipe as ts_interpolate / text_quality_filter_e2e
    eps_round = F.floor(mse * 1000000 + 0.5 + 1e-9) / 1000000
    return q.select(
        "vec_id",
        F.round("_scale", 4).alias("scale"),
        F.get("qv", 0).alias("q0"),
        F.get("qv", 1).alias("q1"),
        F.get("qv", 2).alias("q2"),
        eps_round.alias("mse"),
    )


@register(
    "ann_cosine_topk",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
    QUALIFY ROW_NUMBER() OVER
      (PARTITION BY q.vec_id ORDER BY cos_sim DESC, c.vec_id) <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 neighbors for a 10-query batch — the exactness
    baseline every ANN variant is measured against. Ranking uses the
    rounded similarity + id tiebreak (SURVEY §5.3).

    r11 (guide §1.2 per-task work): ‖q‖ and ‖c‖ are hoisted out of the
    per-pair expression — each row's norm is computed ONCE on its own
    side of the join instead of re-folding the 64-dim aggregate for
    every (query, candidate) pair, cutting the pair-stage HOF work to
    the dot product alone (~⅓ of the folds; measured −20% at sf0.1).
    Same float-op order per value, so cos_sim is bit-identical — a
    norm is a deterministic function of the row, wherever evaluated."""
    from ..functions.similarity import l2_norm

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cn"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qemb"), F.col("cemb")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos_sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def _nearest_cells(emb_col, cb, n):
    """The n nearest codebook cells of `emb_col` as a sorted
    literal-codebook argmin — pure Column expression, zero Exchange.
    ‖emb‖² is the same for every cell, so ranking only needs
    ‖c‖² − 2·emb·c; the per-cell ‖c‖² is folded to a Python float at
    plan-build time. Struct comparison is lexicographic ⇒ (score asc,
    cell asc) — a deterministic tiebreak.

    The codebook rides as ONE nested-array literal + a HOF over it (not
    k×dim expanded per-value literals): the maths and float-op order are
    identical, but the expression tree shrinks ~1000× — which matters
    because Lloyd training recompiles this expression every iteration
    (the expanded form spent ~2s/iteration in janino at k=8, dim=64)."""
    CB = F.lit([[float(v) for v in c] for c in cb])  # k x dim, one literal
    N2 = F.lit([float(sum(v * v for v in c)) for c in cb])  # per-cell ‖c‖²
    scored = F.zip_with(
        CB,
        F.sequence(F.lit(0), F.lit(len(cb) - 1)),
        lambda c, j: F.struct(
            (F.element_at(N2, j + 1) - 2 * dot(emb_col, c)).alias("score"),
            j.cast("int").alias("cell"),
        ),
    )
    return F.slice(F.array_sort(scored), 1, n)


def ivf_assign(e: DataFrame, cb: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest codebook cell. Zero Exchange:
    the codebook is inlined as a plan literal (tests/test_plans.py pins
    this — the crossJoin+window formulation it replaced shuffled the
    ×k-exploded corpus once per Lloyd iteration)."""
    best = F.element_at(_nearest_cells(F.col("emb"), cb, 1), 1)
    return e.select("vec_id", "emb", best.cell.alias("cell"))


def seed_codebook(e: DataFrame, k: int) -> list[list[float]]:
    """Deterministic seeds: the k smallest multiplicative key-hashes."""
    seeds = (
        e.withColumn("_h", (F.col("vec_id") * 2654435761) % 4294967296)
        .orderBy("_h", "vec_id")
        .limit(k)
        .collect()
    )
    return [list(r.emb) for r in seeds]


def train_ivf_codebook(e: DataFrame, k: int, iters: int) -> list[list[float]]:
    """Seed + `iters` distributed Lloyd iterations; returns the k×dim
    codebook. Per iteration ONE Arrow-batched numpy job: each batch
    computes its argmin assignment with a (n, k, dim) broadcast
    subtraction and emits per-cell (count, sum-vector) partials — ≤ k
    rows per batch regardless of batch size — which collect straight to
    the driver and combine in numpy. No shuffle at all (the previous
    formulation posexploded the corpus ×dim and shuffled it twice per
    iteration; the r3 HOF-hot-path gotcha applies to training just as
    it did to PQ encode). Scan-side assignment stays the plan-pinned
    literal-HOF `ivf_assign`. Shared by `ann_ivf_probe`,
    `ann_ivfpq_search`, and `dedup_semantic_cluster`."""
    import numpy as np

    codebook = seed_codebook(e, k)
    if not codebook:
        return codebook  # empty corpus: no cells to train (r7 edge sweep)
    for _ in range(iters):
        bcb = e.sparkSession.sparkContext.broadcast(
            np.array(codebook, dtype=np.float64)
        )

        def partials(batches):
            import numpy as np
            import pandas as pd

            C = bcb.value
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["emb"].to_numpy())
                d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
                a = d.argmin(1)
                rows = []
                for cell in range(C.shape[0]):
                    m = a == cell
                    if m.any():
                        rows.append(
                            (cell, int(m.sum()), X[m].sum(0).tolist())
                        )
                yield pd.DataFrame(rows, columns=["cell", "cnt", "sums"])

        parts = e.select("emb").mapInPandas(
            partials, "cell int, cnt long, sums array<double>"
        ).collect()
        sums = np.zeros((k, len(codebook[0])))
        cnts = np.zeros(k)
        for r in parts:
            sums[r["cell"]] += np.array(r["sums"])
            cnts[r["cell"]] += r["cnt"]
        for cell in range(k):  # empty cells keep their previous centroid
            if cnts[cell] > 0:
                codebook[cell] = (sums[cell] / cnts[cell]).tolist()
    return codebook


@register("ann_ivf_probe")  # rows-only: recall (not exact output) is the contract
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED codebook: 3 distributed Lloyd (k-means)
    iterations over k=8 cells, deterministic hash-picked seeds; each
    query probes its 3 nearest cells and ranks only inside them. Scan
    cost drops from N to N·(scanned-cell mass) — here ~40% for ~0.6
    top-5 recall on this unclustered fixture, vs 0.38 at the same scan
    fraction for the untrained per-label codebook it replaces (real
    corpora cluster, concentrating neighbors into probed cells and
    pushing recall far higher at the same probe count).

    Scale shape: the codebook is k×dim (tiny) — it is inlined into the
    plan as an array-of-structs LITERAL, so cell assignment is a pure
    Column argmin (array_min over per-cell scores): ZERO Exchange per
    Lloyd iteration and zero for the final assignment (the r1 version
    crossJoined to k rows and picked the argmin with a row_number window
    — a full shuffle of the ×k-exploded corpus per iteration, VERDICT r1
    wrong-#4). Only the centroid update shuffles, and it carries (cell,
    pos) partials — P·k·dim rows, flat in corpus size; the per-cell
    state lands on the driver only as k×dim floats. At 100 TB, train on
    a hash-sample and write the vector table PARTITIONED BY cell so
    probing prunes partitions; tests/test_correctness.py pins the recall
    contract vs brute force.
    """
    K, PROBES, ITERS = 8, 3, 3
    # NULL embeddings are not vectors (r9 edge batch, nullmix mode)
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .filter(F.col("emb").isNotNull())
    )
    codebook = train_ivf_codebook(e, K, ITERS)
    if not codebook:
        # empty corpus: the trainer's empty-codebook path (r9 edge
        # batch, class-3 guard) — no cells to probe, schema-stable
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double"
        )
    assigned = ivf_assign(e, codebook)
    # queries probe their PROBES nearest cells (same zero-shuffle argmin)
    probe_cells = F.transform(
        _nearest_cells(F.col("emb"), codebook, PROBES), lambda s: s.cell
    )
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.explode(probe_cells).alias("cell"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qemb"), F.col("emb")), 4).alias("cos_sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@register("ann_lsh_cosine")  # rows-only: hyperplane family is engine-specific
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine near-neighbor pairs: 64-bit random-hyperplane
    signatures (sign of V·H, H seeded-deterministic), candidates from
    equal 4-bit bands (16 bands — banding tuned for the fixture's ~0.45+
    similarity regime; collision prob per band ≈ (1-θ/π)^4), then EXACT
    cosine verification of candidates only. The candidate join is
    per-(band, key) buckets — never an all-pairs product — which is the
    shape that scales; at fixture size brute force is cheaper, which is
    why the exact variants exist alongside (dedup_embedding_cosine).

    Signature computation is one numpy matmul per Arrow batch
    (iterator-form pandas UDF; hyperplanes built once per worker from a
    fixed seed). The signature index is localCheckpoint'd — both join
    sides and the verify stage reuse it, so the Python UDF runs once (on
    a cluster this is the materialized index table). Verification runs
    on UNIT vectors prepared once per side: cosine degenerates to a
    single dot fold instead of dot + two norm folds per candidate —
    measured 2.4× end-to-end at sf0.1 on the ~27%-of-all-pairs candidate
    load this loose 0.45-threshold banding admits.

    NULL embeddings are not vectors — gated before the signature UDF
    (None cells crash the numpy matmul stack; EDGE_SWEEP_r10 class A)."""
    from ..functions.similarity import as_double, dot, l2_norm

    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("emb"))
    )
    dim = 64
    n_bits = 64

    @F.pandas_udf("long")
    def signature(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        rng = np.random.default_rng(42)  # same planes on every worker
        H = rng.standard_normal((n_bits, dim))
        for s in batches:
            V = np.stack(s.to_numpy())
            bits = (V @ H.T) > 0  # (n, 64)
            # pack to signed int64 (bit 63 = sign bit, two's complement)
            weights = np.left_shift(np.ones(n_bits, dtype=np.uint64), np.arange(n_bits, dtype=np.uint64))
            sig = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.Series(sig)

    sigs = e.withColumn("sig", signature("emb")).select(
        "vec_id", "sig"
    ).localCheckpoint()
    # band keys + signature only — the embeddings do NOT ride through the
    # band join: candidate rows would carry two 64-double arrays into a
    # distinct() over wide rows (measured 3× slower); dedup the (id1, id2)
    # pair set narrow, then fetch embeddings back with two equi-joins. At
    # 100 TB the same argument holds harder: band-join fan-out × embedding
    # width is the shuffle you can't afford.
    bands = sigs.select(
        "vec_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("sig", 4 * i)
                        .bitwiseAND(F.lit(0xF))
                        .alias("key"),
                    )
                    for i in range(16)
                ]
            )
        ).alias("bk"),
    )
    a = bands.select(F.col("vec_id").alias("id1"), F.col("sig").alias("s1"), "bk")
    b = bands.select(F.col("vec_id").alias("id2"), F.col("sig").alias("s2"), "bk")
    # signature-Hamming pre-filter before the exact verify: E[hamming] for
    # a pair at cos θ is 64·θ/π — 22.5 at the 0.45 threshold (σ ≈ 3.8) vs
    # 32 for orthogonal pairs — so ham ≤ 29 (≈ +1.7σ) keeps threshold-pair
    # recall ≥ ~0.95 while rejecting ~3/4 of the noise candidates this
    # loose 4-bit banding admits. One bit_count(xor) on longs already in
    # the row: far cheaper than fetching embeddings for every candidate.
    ham_ok = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))) <= 29
    cand = (
        a.join(b, ["bk"])
        .filter((F.col("id1") < F.col("id2")) & ham_ok)
        .select("id1", "id2")
        .distinct()
    )
    # unit vectors once per side (norm hoisted to its own column so the
    # per-element division doesn't re-run the norm fold), broadcast into
    # the fetch joins: the candidate pair set is the big side
    en = e.select("vec_id", "emb", l2_norm(F.col("emb")).alias("_nrm")).select(
        "vec_id", F.transform("emb", lambda x: x / F.col("_nrm")).alias("u")
    )
    cand = cand.join(
        F.broadcast(en.select(F.col("vec_id").alias("id1"), F.col("u").alias("u1"))),
        "id1",
    ).join(
        F.broadcast(en.select(F.col("vec_id").alias("id2"), F.col("u").alias("u2"))),
        "id2",
    )
    return (
        cand.withColumn("cos_sim", F.round(dot(F.col("u1"), F.col("u2")), 4))
        .filter(F.col("cos_sim") >= 0.45)
        .select("id1", "id2", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), "id1", "id2")
    )


@register("ann_ivfpq_search")  # rows-only: recall (not exact output) is
# the contract — pinned in tests vs brute force AND vs plain IVF
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the composition that actually runs billion-vector search
    — IVF cells prune the scan (`ann_ivf_probe`), and inside the probed
    cells candidates are ranked from their PRODUCT-QUANTIZED residual
    codes (`emb_pq_quantize` math on x − centroid[cell]), so the
    candidate table the query fans out over carries 8 nibbles per
    vector, not 64 floats. Full embeddings are fetched ONLY for the
    top-50 approximate survivors, which are exactly rescored to the
    final top-5 (the standard two-stage ADC + rescore pipeline of
    IVFADC / FAISS-style indexes, built from the public PQ literature).

    Scale shape: everything before the rescore join touches only
    (vec_id, cell, codes) — 4 bytes of payload per corpus vector at
    production sizes; cell assignment, PQ encode, and approximate
    reconstruction are all literal-codebook pure-Column HOFs (zero
    Exchange, zero Python); the rescore join pulls full vectors for
    50·|queries| ids only. Codebooks: IVF via 3 Lloyd iterations,
    PQ via deterministic hash-seeded residual samples (k-means would
    tighten both; determinism keeps the key reproducible)."""
    K, PROBES, ITERS, M, KS, SUB = 8, 3, 3, 8, 16, 8
    # NULL embeddings are not vectors (r9 edge batch, nullmix mode)
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .filter(F.col("emb").isNotNull())
        .localCheckpoint()
    )  # reused by every Lloyd iteration + both stages
    codebook = train_ivf_codebook(e, K, ITERS)
    if not codebook:
        # empty corpus: the trainer's empty-codebook path (r9 edge
        # batch, class-3 guard) — nothing to index, schema-stable
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double"
        )
    cb_lit = F.lit([[float(v) for v in c] for c in codebook])  # K x 64

    # residual vs assigned cell centroid — row-local
    assigned = ivf_assign(e, codebook).select(
        "vec_id",
        "cell",
        "emb",
        F.zip_with(
            "emb", F.element_at(cb_lit, F.col("cell") + 1), lambda x, c: x - c
        ).alias("resid"),
    ).localCheckpoint()

    # PQ codebooks on residual subspaces (hash-seeded samples)
    seeds = (
        assigned.withColumn("_h", F.xxhash64(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(KS)
        .collect()
    )
    import numpy as np

    pq = np.array(
        [
            [list(row["resid"][s * SUB : (s + 1) * SUB]) for row in seeds]
            for s in range(M)
        ],
        dtype=np.float64,
    )  # (M, KS, SUB)

    # PQ encode is ARROW-BATCHED NUMPY, not per-row HOF lambdas: the
    # M·KS·SUB argmin is ~1024 flops/row, and HOF lambdas run ~8M
    # steps/s (the r3 gotcha) while the batched (n,KS,SUB) broadcast
    # subtraction is one GEMM-shaped op per subspace — AND it spares
    # janino the 8×16-aggregate expression tree that dominated this
    # key's wall with recompiles (9.9 s warm before, sf0.1). The
    # QUERY-side reconstruction below stays a JVM literal HOF: it is
    # fused into the candidate join where codegen earns its keep.
    def _encode(pq_arr, emit_sub: bool):
        bpq = assigned.sparkSession.sparkContext.broadcast(pq_arr)

        def enc(batches):
            import numpy as np
            import pandas as pd

            P = bpq.value
            for pdf in batches:
                if not len(pdf):
                    continue
                R = np.stack(pdf["resid"].to_numpy())
                codes = np.empty((len(R), M), dtype=np.int32)
                for s_i in range(M):
                    X = R[:, s_i * SUB : (s_i + 1) * SUB]
                    d = ((X[:, None, :] - P[s_i][None, :, :]) ** 2).sum(-1)
                    codes[:, s_i] = d.argmin(1)
                if not emit_sub:
                    yield pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "cell": pdf["cell"],
                            "codes": [c.tolist() for c in codes],
                        }
                    )
                    continue
                # training: per-(subspace, code) partial sums per batch —
                # M·KS rows of SUB-float sums, independent of batch rows
                rows = []
                for s_i in range(M):
                    X = R[:, s_i * SUB : (s_i + 1) * SUB]
                    for code in range(pq_arr.shape[1]):
                        m = codes[:, s_i] == code
                        if m.any():
                            rows.append(
                                (s_i, code, int(m.sum()), X[m].sum(0).tolist())
                            )
                yield pd.DataFrame(
                    rows, columns=["s", "code", "cnt", "sums"]
                )

        return enc

    # 2 Lloyd iterations per PQ codebook: ONE small Arrow job each; the
    # per-batch partials (≤ M·KS rows/batch) collect straight to the
    # driver and combine in numpy — no shuffle at all
    for _ in range(2):
        parts = assigned.select("vec_id", "cell", "resid").mapInPandas(
            _encode(pq, emit_sub=True),
            "s int, code int, cnt long, sums array<double>",
        ).collect()
        # pq.shape[1], not KS: a corpus smaller than KS seeds a smaller
        # codebook, and the partial accumulators must match it (r9 edge
        # batch — one-row/nullmix fixtures hit the mismatch as a numpy
        # boolean-index error)
        sums = np.zeros((M, pq.shape[1], SUB))
        cnts = np.zeros((M, pq.shape[1]))
        for r in parts:
            sums[r["s"], r["code"]] += np.array(r["sums"])
            cnts[r["s"], r["code"]] += r["cnt"]
        used = cnts > 0  # codes nobody used keep their previous centroid
        pq[used] = sums[used] / cnts[used][:, None]

    # the compressed index: (vec_id, cell, 8 codes) — 4 bytes/vec at scale
    index = assigned.select("vec_id", "cell", "resid").mapInPandas(
        _encode(pq, emit_sub=False),
        "vec_id long, cell int, codes array<int>",
    ).localCheckpoint()
    pq = pq.tolist()  # plain nested floats for the F.lit below

    # queries probe their nearest cells
    probe_cells = F.transform(
        _nearest_cells(F.col("emb"), codebook, PROBES), lambda s: s.cell
    )
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.explode(probe_cells).alias("cell"),
    )

    # approximate reconstruction from codes: centroid[cell] + pq decode
    pq_lit = F.lit(pq)  # M x KS x SUB
    recon_resid = F.flatten(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(1), F.lit(M)),
            lambda code, s: F.element_at(F.element_at(pq_lit, s), code + 1),
        )
    )
    recon = F.zip_with(
        F.element_at(cb_lit, F.col("cell") + 1), recon_resid, lambda c, r: c + r
    )
    cand = (
        F.broadcast(queries)
        .join(index, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "qemb",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qemb"), recon).alias("approx_sim"),
        )
    )
    w_a = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), "neighbor_id"
    )
    shortlist = (
        cand.withColumn("_rn", F.row_number().over(w_a))
        .filter(F.col("_rn") <= 50)
        .select("query_id", "qemb", "neighbor_id")
    )
    # exact rescore: fetch full vectors ONLY for the shortlist
    w_e = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        shortlist.join(
            e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("cemb")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qemb"), F.col("cemb")), 4).alias("cos_sim"),
        )
        .withColumn("_rn", F.row_number().over(w_e))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@register("emb_binarize_hamming")  # rows-only: binary retrieval quality is
# probabilistic; the recall-vs-cosine contract is pinned in tests
def emb_binarize_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary embedding retrieval: sign-bit quantization packs each
    64-dim vector into ONE bigint (32× smaller than float32), and
    nearest neighbors come from Hamming distance = bit_count(a XOR b) —
    single-instruction similarity. The sign-random-projection result is
    what makes this principled: E[hamming]/bits ≈ angle/π, so Hamming
    ranking approximates cosine ranking (`dedup_simhash` applies the
    same idea to text; this is the embedding-retrieval form, the
    standard first-stage filter before float rescoring).

    Shapes (VERDICT r2 next-#4 closed — the r2 demo broadcast the whole
    packed corpus under an inequality join, a broadcast nested-loop):
    packing is a row-local HOF fold (zero shuffle); retrieval is
    multi-index Hamming banding — the 64 bits split into 8×8-bit band
    keys (identical banding math to `dedup_simhash`), the corpus
    EXPLODED into an 8-rows-per-vector band index (the LSH index table
    you'd persist at 2G vectors), and the 8 query codes exploded into
    radius-1 multi-probes (the band key plus its 8 one-bit flips — 72
    probe keys/query) so a candidate surfaces whenever ANY band is
    within 1 bit. The equi-join broadcasts only the tiny probe side;
    exact bit_count Hamming then verifies and ranks candidates in a
    query-partitioned window. Pigeonhole: every neighbor within
    Hamming 15 is guaranteed caught; the recall-vs-cosine contract
    (empirically 0.125 vs brute-force 0.15 on the fixture, chance 0.01)
    is pinned in tests."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    def pack(arr):  # fold acc*2 + signbit — 32 bits fit a bigint ANSI-safe
        return F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
        )

    packed = e.select(
        "vec_id",
        pack(F.slice("emb", 1, 32)).alias("code_hi"),
        pack(F.slice("emb", 33, 32)).alias("code_lo"),
    )
    packed = packed.localCheckpoint()  # reused by both join sides

    def band_key(i):  # 8-bit band i of the 64-bit code
        src = F.col("code_hi") if i < 4 else F.col("code_lo")
        return F.shiftrightunsigned(src, 24 - 8 * (i % 4)).bitwiseAND(F.lit(255))

    corpus_idx = packed.select(
        F.col("vec_id").alias("neighbor_id"),
        "code_hi",
        "code_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"), band_key(i).alias("band_key")
                    )
                    for i in range(8)
                ]
            )
        ).alias("b"),
    ).select("neighbor_id", "code_hi", "code_lo", "b.band_idx", "b.band_key")

    probes = (
        packed.filter(F.col("vec_id") % 64 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("code_hi").alias("q_hi"),
            F.col("code_lo").alias("q_lo"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"), band_key(i).alias("k")
                        )
                        for i in range(8)
                    ]
                )
            ).alias("b"),
        )
        .select(
            "query_id",
            "q_hi",
            "q_lo",
            "b.band_idx",
            F.explode(
                F.array(
                    F.col("b.k"),
                    *[F.col("b.k").bitwiseXOR(F.lit(1 << bit)) for bit in range(8)],
                )
            ).alias("band_key"),
        )
    )
    cand = (
        corpus_idx.join(F.broadcast(probes), ["band_idx", "band_key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_hi", "q_lo", "code_hi", "code_lo")
        .distinct()
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("q_hi").bitwiseXOR(F.col("code_hi")))
                + F.bit_count(F.col("q_lo").bitwiseXOR(F.col("code_lo")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "hamming")
    )


@register("emb_whitening")  # rows-only: eigendecomposition; whitened-
# covariance-is-identity and numpy-equality pinned in tests
def emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embedding table: x ↦ Σ^{-1/2}(x − μ), the
    decorrelating post-process that makes cosine behave like
    Mahalanobis distance (retrieval-quality standard practice [P]).
    ZCA (W = U Λ^{-1/2} Uᵀ) over PCA-whitening because it is the unique
    whitener CLOSEST to the identity — whitened dims stay aligned with
    the original axes.

    Scale shape: identical one-pass machinery as `emb_pca_project` —
    per-Arrow-batch Gram partials (one numpy GEMM each, fixed 64×64
    output regardless of batch rows), a P·64²-double reduce, an O(64³)
    driver eigh, then the whitening matrix broadcasts back and the
    transform is one GEMM per batch. λ-floor 1e-6 guards rank
    deficiency."""
    import numpy as np
    import pandas as pd

    # a NULL embedding is un-whitenable (r9 edge batch, nullmix mode)
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    dim = 64

    def gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(X.shape[0])],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = e.select("embedding").mapInPandas(
        gram_partials, "n double, s array<double>, g array<double>"
    )
    agg = parts.agg(
        F.sum("n").alias("n"),
        F.array(*[F.sum(F.element_at("s", i + 1)) for i in range(dim)]).alias("s"),
    )
    gsum = (
        parts.select(F.posexplode("g").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("v"))
        .collect()
    )
    row = agg.collect()[0]
    if not row["n"]:
        # empty corpus (r9 edge batch, class-3 guard): NULL totals —
        # nothing to whiten, schema-stable empty result
        return spark.createDataFrame(
            [], "vec_id long, white string, norm_r double"
        )
    n_rows, s = row["n"], np.array(row["s"])
    G = np.zeros(dim * dim)
    for r in gsum:
        G[r["pos"]] = r["v"]
    cov = G.reshape(dim, dim) / n_rows - np.outer(s / n_rows, s / n_rows)
    vals, vecs = np.linalg.eigh(cov)
    W = vecs @ np.diag(1.0 / np.sqrt(np.maximum(vals, 1e-6))) @ vecs.T
    mean = s / n_rows
    bw = e.sparkSession.sparkContext.broadcast((W, mean))

    def whiten(batches):
        Wm, mu = bw.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Z = (X - mu) @ Wm.T
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    # comma-joined 8-decimal string, NOT array<double>:
                    # the driver's pandas sort canonicalizer cannot sort
                    # ndarray cells (the r1 canonicalizer-ERR failure
                    # mode; SURVEY "flat scalar columns" rule)
                    "white": [
                        ",".join(f"{v:.8f}" for v in z) for z in Z
                    ],
                    "norm_r": np.round(np.linalg.norm(Z, axis=1), 4),
                }
            )

    return e.mapInPandas(
        whiten, "vec_id long, white string, norm_r double"
    )


# ---------------------------------------------------------------------------
# ann_recall_report
# ---------------------------------------------------------------------------
_RECALL_K = 5


@register("ann_recall_report")  # rows-only: recall of a probabilistic
# index; the >=0.6-average-recall + exact-overlap-arithmetic contracts
# are pinned in tests
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report: recall@5 of the IVF index (nprobe=2)
    against the exact brute-force neighbors, per query — the
    measurement that decides nprobe/codebook size BEFORE an index
    serves traffic (`ann_ivf_probe` returns the index's answers; this
    key grades them). Both runs share one decoded embedding frame; the
    overlap is one equi-join on (query, neighbor) of two 50-row
    top-k tables; recall arithmetic is exact integers over k."""
    from .ann import ann_cosine_topk, ann_ivf_probe

    brute = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_brute")
    )
    ivf = ann_ivf_probe(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_ivf")
    )
    hits = brute.join(ivf, ["query_id", "neighbor_id"], "inner")
    per_q = (
        brute.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .fillna(0, ["n_hit"])
        .select(
            "query_id",
            "k",
            "n_hit",
            F.expr("CAST(n_hit * 10000 DIV k AS BIGINT)").alias("recall_bp"),
        )
    )
    return per_q.orderBy("query_id")


# ---------------------------------------------------------------------------
# emb_cluster_silhouette
# ---------------------------------------------------------------------------
@register("emb_cluster_silhouette")  # rows-only: float centroid means
# and distance ratios are engine-accumulation-specific; the numpy
# replication + range contracts are pinned in tests
def emb_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per cluster [P — Rousseeuw 1987; the
    centroid-based O(N·k) variant every large-scale evaluator uses —
    the exact pairwise form is O(N²)]: for each point, a = distance to
    its OWN cluster centroid, b = distance to the nearest OTHER
    centroid, s = (b − a)/max(a, b); reported as per-cluster means.
    The cluster-quality number that decides k and flags collapsed or
    overlapping clusters (s ≈ 0) before an index or a SemDeDup run
    trusts the labels.

    Scale shape: centroids come from ONE posexplode + (label, dim)
    aggregation (the `emb_pca_project` moment discipline); the k×64
    centroid table broadcasts back; a/b/s are row-local HOF folds over
    the broadcast array — the corpus is touched twice (moments +
    scoring), never joined to itself."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(pm, s -> s.m)").alias("cv"),
        )
    )
    # k rows of 64 doubles — collect to ONE array-of-structs literal
    rows = cent.collect()
    if not rows:
        # zero embeddings -> zero clusters: empty result (r7 edge sweep —
        # F.array() over no centroids infers VOID and breaks the HOFs)
        return spark.createDataFrame(
            [], "label int, n bigint, mean_silhouette double, min_silhouette double"
        )
    lit = F.array(
        *[
            F.struct(
                F.lit(r["clabel"]).alias("clabel"),
                F.lit(r["cv"]).alias("cv"),
            )
            for r in rows
        ]
    )
    d2 = (
        "aggregate(zip_with(v, c.cv, (a, b) -> (a - b) * (a - b)),"
        " 0D, (acc, x) -> acc + x)"
    )
    scored = e.withColumn("cents", lit).select(
        "label",
        F.expr(
            f"sqrt(aggregate(filter(cents, c -> c.clabel = label),"
            f" cast(null as double), (acc, c) -> {d2}))"
        ).alias("a"),
        F.expr(
            f"sqrt(array_min(transform(filter(cents, c -> c.clabel != label),"
            f" c -> {d2})))"
        ).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 4).alias("mean_silhouette"),
            F.round(F.min(s), 4).alias("min_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# emb_dimension_variance
# ---------------------------------------------------------------------------
@register(
    "emb_dimension_variance",
    oracle="""
    WITH d AS (
      SELECT t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    m AS (
      SELECT dim, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
      FROM d GROUP BY dim
    ),
    stats AS (
      SELECT dim - 1 AS dim,
             s / n AS mean_v,
             (ss - s * s / n) / (n - 1) AS var_v
      FROM m
    ),
    tot AS (SELECT SUM(var_v) AS tv FROM stats)
    SELECT CAST(stats.dim AS INT) AS dim,
           ROUND(mean_v, 4) + 0 AS mean_v,
           ROUND(var_v, 6) AS var_v,
           ROUND(10000 * var_v / tot.tv, 4) AS var_share_bp
    FROM stats CROSS JOIN tot
    ORDER BY dim
    """,
)
def emb_dimension_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment screen over the embedding space: mean,
    variance, and each dimension's share of total variance in basis
    points — the health check that finds dead dimensions (≈0 variance:
    wasted index bytes) and dominant ones (a few dims carrying the
    space distorts cosine) before `emb_pq_quantize` / `ann_ivf_probe`
    trust the geometry. Complements `emb_whitening`, which FIXES what
    this key diagnoses.

    One posexplode → (dim) aggregate with integer-free but
    expansion-form moments (Σv, Σv² — identical expression both
    engines, the `stats_levene_test` discipline); 64 output rows; the
    total-variance normalizer is a window over the 64-row result, not
    a second scan (`stats_benford_test` lesson)."""
    e = table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding")).alias("dim", "v0")
    )
    d = e.select("dim", F.col("v0").cast("double").alias("v"))
    m = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    stats = m.select(
        "dim",
        (s / n).alias("mean_raw"),
        # try_divide: a single vector (n==1) leaves the sample variance
        # undefined -> NULL, matching DuckDB (r7 edge sweep)
        F.try_divide(ss - s * s / n, n - 1).alias("var_raw"),
    )
    wt = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stats = stats.withColumn("tv", F.sum("var_raw").over(wt))
    return stats.select(
        F.col("dim").cast("int").alias("dim"),
        (F.round("mean_raw", 4) + F.lit(0)).alias("mean_v"),
        F.round("var_raw", 6).alias("var_v"),
        F.round(F.try_divide(F.lit(10000) * F.col("var_raw"), F.col("tv")), 4).alias(
            "var_share_bp"
        ),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# emb_random_projection
# ---------------------------------------------------------------------------
_JL_K = 16  # target dimensionality
_JL_MULT = 2654435761


@register(
    "emb_random_projection",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             CAST(a.embedding AS DOUBLE[]) AS e1,
             CAST(b.embedding AS DOUBLE[]) AS e2
      FROM embeddings a JOIN embeddings b
        ON a.vec_id < 30 AND b.vec_id < 30 AND a.vec_id < b.vec_id
    ),
    proj AS (
      SELECT id1, id2,
             SQRT(list_sum(list_transform(
               generate_series(1, len(e1)),
               i -> POW(e1[i] - e2[i], 2)))) AS d_orig,
             SQRT(list_sum(list_transform(
               generate_series(1, {_JL_K}),
               j -> POW(list_sum(list_transform(
                      generate_series(1, len(e1)),
                      i -> (e1[i] - e2[i])
                           * (CASE WHEN (((i * 73856093 + j * 19349663)
                                          % 2147483648)
                                         * {_JL_MULT}) % 4294967296
                                        < 2147483648
                              THEN 1.0 ELSE -1.0 END))), 2))))
               / SQRT(CAST({_JL_K} AS DOUBLE)) AS d_proj
      FROM pairs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(ABS(d_proj / d_orig - 1)), 4) AS mean_distortion,
           ROUND(MAX(ABS(d_proj / d_orig - 1)), 4) AS max_distortion,
           ROUND(AVG(d_proj / d_orig), 4) AS mean_ratio
    FROM proj WHERE d_orig > 0
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign projection 64 → 16 dims with a
    measured distortion report over a 30-vector pair sample: the
    projection matrix is R[i,j] = ±1 from a deterministic integer hash
    of (i, j) (Achlioptas' database-friendly construction — no Gaussian
    sampling, REPRODUCIBLE across engines/reruns), distances scale by
    1/√k, and the report is mean/max |d_proj/d_orig − 1|. JL is the
    cheap scale path under every ANN stack here: project once, index
    in 16 dims, re-rank survivors in 64.

    The projection is row-local array-HOF codegen (transform over a
    generate-range — the `emb_pq_quantize` nested-literal lesson: no
    per-cell expression explosion); the 30×29/2 pair sample broadcasts.
    Both engines compute the SAME ±1 matrix from the same integer
    arithmetic — nothing is random at execution time."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).filter(F.col("vec_id") < 30)
    a = e.select(F.col("vec_id").alias("id1"), F.col("emb").alias("e1"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("emb").alias("e2"))
    pairs = F.broadcast(a).join(b, F.col("id1") < F.col("id2"))
    diff = F.zip_with("e1", "e2", lambda x, y: x - y)
    d_orig = F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    )

    def sign(i, j):
        # ±1 from the Knuth multiplicative hash of (i, j); i is 1-based.
        # The % 2^31 reduction BEFORE the multiply keeps the product
        # inside int64 — without it ANSI mode overflows while DuckDB
        # silently widens to HUGEINT (engines must share the formula)
        h1 = (
            i.cast("bigint") * F.lit(73856093) + j * F.lit(19349663)
        ) % F.lit(2147483648)
        h = h1 * F.lit(_JL_MULT)
        return F.when(h % F.lit(4294967296) < F.lit(2147483648), F.lit(1.0)).otherwise(
            F.lit(-1.0)
        )

    def proj_coord(j):
        # sum_i diff[i] * R[i, j] — one fold over the 64-dim difference
        return F.aggregate(
            F.zip_with(
                diff,
                F.transform(F.sequence(F.lit(1), F.size("e1")), lambda i: i),
                lambda d, i: d * sign(i, F.lit(j)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    d_proj = (
        F.sqrt(
            sum(proj_coord(j) * proj_coord(j) for j in range(1, _JL_K + 1))
        )
        / F.lit(float(_JL_K) ** 0.5)
    )
    scored = pairs.select(
        d_orig.alias("d_orig"), d_proj.alias("d_proj")
    ).filter(F.col("d_orig") > 0)
    r = F.col("d_proj") / F.col("d_orig")
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg(F.abs(r - 1)), 4).alias("mean_distortion"),
        F.round(F.max(F.abs(r - 1)), 4).alias("max_distortion"),
        F.round(F.avg(r), 4).alias("mean_ratio"),
    )


# ---------------------------------------------------------------------------
# emb_centroid_drift
# ---------------------------------------------------------------------------
@register(
    "emb_centroid_drift",
    oracle="""
    WITH halves AS (
      SELECT label, (vec_id % 2 = 0) AS half_a,
             t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    cents AS (
      SELECT label, half_a, dim, AVG(v) AS c
      FROM halves GROUP BY label, half_a, dim
    ),
    paired AS (
      SELECT a.label, a.dim, a.c AS ca, b.c AS cb
      FROM cents a JOIN cents b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half_a AND NOT b.half_a
    ),
    sums AS (
      SELECT label,
             SUM(ca * cb) AS dot,
             SQRT(SUM(ca * ca)) AS na,
             SQRT(SUM(cb * cb)) AS nb,
             SQRT(SUM((ca - cb) * (ca - cb))) AS l2
      FROM paired GROUP BY label
    )
    SELECT CAST(label AS INT) AS label,
           ROUND(dot / (na * nb), 4) AS centroid_cosine,
           ROUND(l2, 4) AS centroid_l2_shift
    FROM sums ORDER BY label
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: split each cluster's vectors into two
    deterministic halves (vec_id parity — in production, two time
    windows), compute both centroids, and report their cosine and L2
    shift per label. Cosine ≈ 1 means the cluster is stable; a drop
    says the region MOVED — retrain the IVF/PQ index, recheck SemDeDup
    assignments. The vector-space sibling of `drift_psi` (scalar
    distributions) and `emb_dimension_variance` (static geometry).

    One posexplode → (label, half, dim) mean — a single combinable
    aggregate whose output is 2·k·64 rows — then the half-pairing and
    norms are arithmetic on that bounded table. The corpus is touched
    once."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", (F.col("vec_id") % 2 == 0).alias("half_a"),
        F.posexplode(F.col("embedding")).alias("dim", "v0"),
    )
    cents = (
        e.select("label", "half_a", "dim", F.col("v0").cast("double").alias("v"))
        .groupBy("label", "half_a", "dim")
        .agg(F.avg("v").alias("c"))
    )
    a = cents.filter(F.col("half_a")).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cents.filter(~F.col("half_a")).select(
        "label", "dim", F.col("c").alias("cb")
    )
    paired = a.join(b, ["label", "dim"])
    sums = paired.groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
        F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
        F.sqrt(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
        ).alias("l2"),
    )
    return sums.select(
        F.col("label").cast("int").alias("label"),
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias(
            "centroid_cosine"
        ),
        F.round("l2", 4).alias("centroid_l2_shift"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# emb_distance_histogram
# ---------------------------------------------------------------------------
@register(
    "emb_distance_histogram",
    oracle="""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 100
    ),
    pairs AS (
      SELECT SQRT(list_sum(list_transform(
               generate_series(1, len(a.e)),
               i -> POW(a.e[i] - b.e[i], 2)))) AS d
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    ),
    m AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax, AVG(d) AS dmean,
                 STDDEV_SAMP(d) AS dstd, COUNT(*) AS n
          FROM pairs),
    binned AS (
      SELECT CASE WHEN m.dmax = m.dmin THEN 0
                  ELSE LEAST(CAST(FLOOR((p.d - m.dmin)
                               / ((m.dmax - m.dmin) / 10)) AS INT), 9)
             END AS bin
      FROM pairs p CROSS JOIN m
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND((SELECT dmean FROM m), 4) AS mean_dist,
           ROUND((SELECT dstd / dmean FROM m), 4) AS rel_spread
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def emb_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-distance histogram over a 100-vector sample with the
    relative spread σ/μ — the distance-CONCENTRATION diagnostic: in
    high dimensions distances crowd toward one value (rel_spread → 0),
    and when they do, nearest-neighbor thresholds and `dedup_embedding_
    cosine` cutoffs stop meaning anything. The sanity check run BEFORE
    the ANN stack's thresholds are trusted; complements
    `emb_dimension_variance` (per-axis view) with the pairwise view.

    The 100-row sample self-joins broadcast (4 950 pairs); distances
    are row-local HOF folds; the 10-bin histogram and moments are
    arithmetic on the pair table. min/max binning is shared exactly by
    both engines (same floor/least clamp)."""
    s = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = s.select(F.col("vec_id").alias("ia"), F.col("e").alias("ea"))
    b = s.select(F.col("vec_id").alias("ib"), F.col("e").alias("eb"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("ea", "eb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pairs = (
        F.broadcast(a)
        .join(b, F.col("ia") < F.col("ib"))
        .select(dist.alias("d"))
        .localCheckpoint()  # moments + binning share one compute
    )
    m = pairs.agg(
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.avg("d").alias("dmean"),
        F.stddev_samp("d").alias("dstd"),
    ).collect()[0]
    if m["dmin"] is None:
        # fewer than two sample vectors: no pairs, no histogram — empty
        # on both sides (r7 edge sweep: None arithmetic crashed here)
        return spark.createDataFrame(
            [], "bin int, n_pairs bigint, mean_dist double, rel_spread double"
        )
    width = (m["dmax"] - m["dmin"]) / 10
    if width == 0:
        # all pairwise distances identical (e.g. duplicate vectors):
        # one degenerate bin 0, mirrored by the oracle's dmax=dmin CASE.
        # (try_divide by 0 would NOT be NULL-parity here: Spark's least()
        # skips NULLs, so floor(NULL) would clamp to 9 — ADVICE r7 #1.)
        binned = pairs.select(F.lit(0).alias("bin"))
    else:
        binned = pairs.select(
            F.least(
                F.floor(
                    F.try_divide(F.col("d") - F.lit(m["dmin"]), F.lit(width))
                ).cast("int"),
                F.lit(9),
            ).alias("bin")
        )
    rel = (
        m["dstd"] / m["dmean"]
        if m["dstd"] is not None and m["dmean"]
        else None
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_pairs",
            F.round(F.lit(m["dmean"]), 4).alias("mean_dist"),
            F.round(F.lit(rel).cast("double"), 4).alias("rel_spread"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# emb_anisotropy
# ---------------------------------------------------------------------------
@register(
    "emb_anisotropy",
    oracle="""
    WITH norm AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_sum(list_transform(
                 CAST(embedding AS DOUBLE[]), y -> y * y)))) AS u
      FROM embeddings
    ),
    dims AS (
      SELECT t.i AS dim, SUM(u[t.i]) AS s, COUNT(*) AS n
      FROM norm, UNNEST(generate_series(1, len(u))) AS t(i)
      GROUP BY t.i
    ),
    agg AS (
      SELECT SUM(s * s) AS ss, MAX(n) AS n FROM dims
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           ROUND((ss - n) / (n * (n - 1.0)), 4) + 0 AS mean_pairwise_cosine,
           ROUND(SQRT(ss) / n, 4) AS mean_vector_norm
    FROM agg
    """,
)
def emb_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy: the average pairwise cosine over ALL
    n(n−1) vector pairs, computed WITHOUT any pair join via the exact
    identity Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − n for unit vectors — one pass,
    one 64-float sum. Near-0 is isotropic (directions spread — cosine
    similarity is meaningful); near-1 is the cone-shaped pathology
    famous in LLM embeddings [Ethayarajh 2019], where everything is
    'similar' to everything and `dedup_embedding_cosine` thresholds
    stop discriminating. ‖mean vector‖ reported as the equivalent
    geometric read.

    THE showcase of algebra-over-shuffle: the naive form is an n²
    pair join (`emb_distance_histogram` samples it); the identity
    computes the exact all-pairs mean with a posexplode aggregate —
    at 100 TB this is the difference between impossible and one scan."""
    norm_u = F.transform(
        F.col("emb"),
        lambda x: x
        / F.sqrt(F.aggregate(F.col("emb"), F.lit(0.0), lambda a, y: a + y * y)),
    )
    e = (
        table(spark, sf_dir, "embeddings")
        .select(F.col("embedding").cast("array<double>").alias("emb"))
        .select(F.posexplode(norm_u).alias("dim", "u"))
    )
    dims = e.groupBy("dim").agg(
        F.sum("u").alias("s"), F.count(F.lit(1)).alias("n")
    )
    agg = dims.agg(
        F.sum(F.col("s") * F.col("s")).alias("ss"), F.max("n").alias("n")
    )
    n = F.col("n")
    return agg.select(
        n.cast("bigint").alias("n_vectors"),
        # try_divide: a single vector (n==1) has no pairs -> NULL,
        # matching DuckDB's NULL-on-zero-divisor division (r7 edge sweep)
        (F.round(F.try_divide(F.col("ss") - n, n * (n - 1.0)), 4) + F.lit(0)).alias(
            "mean_pairwise_cosine"
        ),
        F.round(F.sqrt(F.col("ss")) / n, 4).alias("mean_vector_norm"),
    )


# --- product quantization ----------------------------------------------------
@register("emb_pq_quantize")  # rows-only: the codebook argmin is not
# reasonably SQL-expressible; numpy-pinned reconstruction contract in tests
def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ): the 64-dim vectors split into 8
    subspaces of 8 dims; each subspace gets a 16-entry codebook, so a
    vector compresses to 8 nibbles = 4 bytes (64x smaller than
    float64) — the storage layer under every billion-vector ANN index
    (IVF-PQ). Codebooks here are sampled deterministically (the
    subvectors of the 16 hash-chosen seed vectors — k-means would
    tighten them; seeding keeps the key reproducible, same policy as
    `ann_ivf_probe`'s trained codebook).

    Scale shape: the 16x64-float codebook is driver state broadcast as
    LITERALS, assignment is a pure-Column argmin (zero Exchange, zero
    Python) exactly like the IVF assignment; only the final per-
    subspace report aggregates. Output: per-subspace distinct-code
    usage and reconstruction MSE (x1e4), pinned against numpy."""
    from ..catalog import table as _table
    from ..functions.similarity import as_double

    e = (
        _table(spark, sf_dir, "embeddings")
        # a NULL embedding cannot be quantized (and a NULL seed row
        # crashed the codebook slicing — r8 nullmix sweep)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("emb"))
    )
    seeds = (
        e.withColumn("h", F.xxhash64(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(16)
        .collect()
    )
    if not seeds:
        # empty corpus: no codebook to sample (r7 edge sweep — empty
        # nested literals infer VOID and break the zip_with distances)
        return spark.createDataFrame(
            [], "subspace int, n_vectors bigint, n_codes_used bigint, mse_e4 double"
        )
    codebooks = [
        [[float(v) for v in row["emb"][s * 8 : (s + 1) * 8]] for row in seeds]
        for s in range(8)
    ]  # [subspace][code][dim] — 16x64 doubles of driver state

    parts = []
    for s in range(8):
        sub = F.slice("emb", s * 8 + 1, 8)
        # ONE nested-array literal per subspace + HOF distance: keeps the
        # codegen'd expression tree tiny (a naive 16x8 expanded per-dim sum
        # is ~1k expression nodes per subspace and OOMs janino)
        cb = F.lit(codebooks[s])
        dists = F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        parts.append(
            F.struct(
                F.lit(s).alias("subspace"),
                (F.array_position(dists, F.array_min(dists)) - 1)
                .cast("int")
                .alias("code"),
                F.array_min(dists).alias("err"),
            )
        )
    assigned = e.select(
        "vec_id", F.explode(F.array(*parts)).alias("a")
    ).select("vec_id", "a.subspace", "a.code", "a.err")
    return (
        assigned.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("code").alias("n_codes_used"),
            F.round(F.avg("err") * 10000, 4).alias("mse_e4"),
        )
        .orderBy("subspace")
    )
