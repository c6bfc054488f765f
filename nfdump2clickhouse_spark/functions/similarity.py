"""Vector-similarity column functions (SURVEY §2.11).

Pure Column expressions over ArrayType — zip_with/aggregate higher-order
functions run JVM-side; no Python crossing. Inputs are cast to double
before arithmetic (float32 accumulation is not reproducible across
engines — SURVEY §5.3.6).

At 100 TB the brute-force pair space is infeasible; the scale paths are
(a) MinHashLSH banding for set similarity (operators/dedup_extra.py) and
(b) IVF-style cell probing for vectors (operators/ann.py) — both turn the
all-pairs product into per-bucket joins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def blocked_pair_topk(
    e,  # DataFrame(vec_id long, emb array<double>)
    n_blocks: int = 8,
    per_block_k: int | None = 20,
    threshold: float | None = None,
):
    """All-pairs cosine via distributed block matrix product.

    Vectors are bucketed into `n_blocks` blocks by vec_id; every block
    pair (i ≤ j) is cogrouped and multiplied with one numpy matmul on an
    executor — 2 M scalar folds become ~36 small GEMMs. Each side emits
    only its per-block-pair top `per_block_k` pairs (a superset of any
    global top-k ≤ per_block_k), so the shuffle back is tiny.

    Scale: each vector is replicated n_blocks times; memory per task is
    |block|·dim doubles. At 100 TB, bucket by an LSH/IVF cell instead of
    vec_id%%B so only plausible pairs share a block (see ann.py) — the
    compute pattern stays identical.
    """
    import pandas as pd

    import pyspark.sql.functions as F

    B = n_blocks
    blk = (F.col("vec_id") % B).cast("int")
    left = (
        e.withColumn("b1", blk)
        .withColumn("b2", F.explode(F.sequence(blk, F.lit(B - 1))))
    )
    right = (
        e.withColumn("b2", blk)
        .withColumn("b1", F.explode(F.sequence(F.lit(0), blk)))
    )

    def block_pair(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id1": [], "id2": [], "cos_sim": []})
        lm = np.stack(lpdf["emb"].to_numpy())
        rm = np.stack(rpdf["emb"].to_numpy())
        lm = lm / np.linalg.norm(lm, axis=1, keepdims=True)
        rm = rm / np.linalg.norm(rm, axis=1, keepdims=True)
        cos = lm @ rm.T
        lid = lpdf["vec_id"].to_numpy()
        rid = rpdf["vec_id"].to_numpy()
        i1 = np.repeat(lid, len(rid))
        i2 = np.tile(rid, len(lid))
        c = cos.ravel()
        if key[0] == key[1]:
            # diagonal block: both sides hold the same vectors — the id
            # order dedups mirrored pairs and drops self-pairs
            mask = i1 < i2
            lo, hi, c = i1[mask], i2[mask], c[mask]
        else:
            # off-diagonal: every (left, right) pair is distinct; emit in
            # canonical (min, max) id order
            lo, hi = np.minimum(i1, i2), np.maximum(i1, i2)
        out = pd.DataFrame({"id1": lo, "id2": hi, "cos_sim": c})
        if threshold is not None:
            # filter on the raw value (matching SQL `WHERE cos >= t`), THEN round
            out = out[out["cos_sim"] >= threshold]
        out["cos_sim"] = np.floor(out["cos_sim"] * 10000 + 0.5) / 10000  # half-up
        out = out.sort_values(["cos_sim", "id1", "id2"], ascending=[False, True, True])
        return out.head(per_block_k) if per_block_k is not None else out

    return (
        left.groupBy("b1", "b2")
        .cogroup(right.groupBy("b1", "b2"))
        .applyInPandas(block_pair, "id1 long, id2 long, cos_sim double")
    )
