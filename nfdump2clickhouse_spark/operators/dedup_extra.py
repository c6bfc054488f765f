"""Training-data dedup operators (``dedup_*``, ``sim_*``).

Exact and keep-first dedup, MinHash/LSH, exact-SQL n-gram Jaccard,
SimHash, embedding-cosine and fuzzy near-dup, plus the dedup diagnostics.

Scale shape: none of them takes the all-pairs product — Jaccard pairs
come from an inverted shingle index join, SimHash candidates from equal
band keys, MinHash candidates from LSH band collisions.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions.similarity import as_double
from ..functions.text import shingles, words
from ..registry import register


@register(
    "dedup_exact",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate removal on a key subset — hash re-partition by the
    key columns, no row comparison beyond equality."""
    return table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@register(
    "dedup_keep_first",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    QUALIFY ROW_NUMBER() OVER
      (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates-keep-earliest, made deterministic with a (ts,
    event_id) ordering (SURVEY §2.9)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "event_type")
    )


# --- pure-DataFrame MinHash banding ------------------------------------------
_MH_HASHES = 32
_MH_BANDS = 8  # r = 4 rows/band; P(candidate | J=0.8) ≈ 0.985, | J=0.3) ≈ 0.06


@register("dedup_minhash_pure")  # rows-only: banding is probabilistic;
# precision/recall vs the exact-Jaccard key are pinned in tests
def dedup_minhash_pure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection as pure Column expressions — no
    MLlib, no vector UDT, no Python worker: signatures are
    array_min over xxhash64 of the shingle set (row-local, codegen'd),
    band keys hash 4-signature slices, candidates come from equal band
    keys, and every candidate is verified with EXACT Jaccard
    (array_intersect on the carried shingle sets) so precision is 1.0
    by construction; banding only affects recall (b=8, r=4 → ≈0.985 at
    the J=0.8 threshold).

    This is the 100 TB path of the dedup family: vs MLlib's
    `dedup_near_minhash` it is deterministic across runs/engines (seeded
    xxhash64, no RNG), keeps signatures out of Python entirely, and its
    only shuffles are the band-bucket groupBy and the pair dedup — both
    keyed, both bounded by the hot-bucket cap (same guard as
    `dedup_ngram_jaccard`). Verification joins fetch only candidate
    docs' shingle sets, never the corpus."""
    d = table(spark, sf_dir, "documents")
    # same single-row-group parallelism gate as shingle_pair_counts: the
    # 32-hash signature HOF is the CPU hot spot and must not serialize
    par = spark.sparkContext.defaultParallelism
    if len(d.inputFiles()) < par:  # metadata-only (vs .rdd → extra job)
        d = d.repartition(par)
    sets = d.select(
        "doc_id", F.array_distinct(shingles(words(F.col("text")))).alias("shs")
    ).filter(F.size("shs") > 0)
    # shingle sets feed three arms (signatures + both verify sides);
    # checkpoint so tokenization runs once, not three times
    sets = sets.localCheckpoint()
    sig = sets.select(
        "doc_id",
        "shs",
        F.transform(
            F.sequence(F.lit(0), F.lit(_MH_HASHES - 1)),
            lambda j: F.array_min(
                F.transform(
                    F.col("shs"),
                    lambda s: F.xxhash64(F.concat(j.cast("string"), F.lit("|"), s)),
                )
            ),
        ).alias("sig"),
    )
    r = _MH_HASHES // _MH_BANDS
    band_cols = [
        F.xxhash64(
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[
                    F.element_at("sig", b * r + i + 1).cast("string")
                    for i in range(r)
                ],
            )
        ).alias(f"bk{b}")
        for b in range(_MH_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.size("shs").alias("n"), F.array(*band_cols).alias("bks")
    ).select("doc_id", "n", F.explode("bks").alias("bk"))
    buckets = bands.groupBy("bk").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds")
    )
    buckets = buckets.filter(
        (F.size("ds") >= 2) & (F.size("ds") <= 10_000)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ds",
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ds"),
                                i + 2,
                                F.greatest(F.size("ds") - i - 1, F.lit(0)),
                            ),
                            lambda y: F.struct(
                                x["doc_id"].alias("id1"),
                                y["doc_id"].alias("id2"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    lhs = sets.select(
        F.col("doc_id").alias("id1"), F.col("shs").alias("shs1")
    )
    rhs = sets.select(
        F.col("doc_id").alias("id2"), F.col("shs").alias("shs2")
    )
    verified = (
        pairs.join(lhs, "id1")
        .join(rhs, "id2")
        .select(
            "id1",
            "id2",
            (
                F.size(F.array_intersect("shs1", "shs2"))
                / (
                    F.size("shs1")
                    + F.size("shs2")
                    - F.size(F.array_intersect("shs1", "shs2"))
                )
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.8)
    )
    return verified.select(
        "id1", "id2", F.round("j", 4).alias("jaccard")
    )


@register(
    "sim_cosine_centroid",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), cent AS (
      SELECT label, pos, AVG(val) AS cval FROM ex GROUP BY label, pos
    ), dots AS (
      SELECT ex.vec_id, ex.label,
             SUM(ex.val * cent.cval)  AS dp,
             SUM(ex.val * ex.val)     AS na,
             SUM(cent.cval * cent.cval) AS nb
      FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
      GROUP BY ex.vec_id, ex.label
    )
    SELECT vec_id, label, ROUND(dp / (sqrt(na) * sqrt(nb)), 4) + 0 AS cos_sim
    FROM dots
    """,
)
def sim_cosine_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of each embedding to its label centroid. The centroid table
    (labels × dims) is tiny → broadcast; the embedding side is scanned
    once. All zip_with/aggregate HOFs — no Python.

    r11 (guide §1.2 per-task work): ‖centroid‖ is folded into the
    broadcast table (once per label) instead of re-aggregating the
    64-dim norm for every embedding row — same expression over the
    same values, so the double is bit-identical; only ‖emb‖ and the
    dot product remain per-row."""
    from ..functions.similarity import dot, l2_norm

    e = table(spark, sf_dir, "embeddings").withColumn("emb", as_double("embedding"))
    ex = e.select("vec_id", "label", F.posexplode("emb").alias("pos", "val"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s.cval,
            ).alias("centroid")
        )
        .withColumn("cnorm", l2_norm(F.col("centroid")))
    )
    return e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        # "+ 0": near-orthogonal cosines can round to -0.0 (SURVEY §8)
        (
            F.round(
                dot(F.col("emb"), F.col("centroid"))
                / (l2_norm(F.col("emb")) * F.col("cnorm")),
                4,
            )
            + 0
        ).alias("cos_sim"),
    )


@register(
    "sim_topk_pairs",
    oracle="""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
    ORDER BY cos_sim DESC, id1, id2
    LIMIT 20
    """,
)
def sim_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 most-similar pairs via distributed block matrix
    product (functions.similarity.blocked_pair_topk): each block pair is
    one numpy GEMM on an executor, per-block top-20s shuffle back (a
    global top-20 superset), Spark takes the final top-20. ~40× the naive
    per-pair fold. At 100 TB, block by LSH/IVF cell instead of id%%B.
    Ordering is on the ROUNDED similarity with id tiebreaks so the k-th
    boundary is stable across engines (SURVEY §5.3). NULL embeddings are
    not vectors — gated before the GEMM (mirrored IS NOT NULL in the
    oracle; EDGE_SWEEP_r10 class A)."""
    from ..functions.similarity import blocked_pair_topk

    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("emb"))
    )
    return (
        blocked_pair_topk(e, n_blocks=8, per_block_k=20)
        .orderBy(F.col("cos_sim").desc(), "id1", "id2")
        .limit(20)
    )


@register("dedup_near_minhash")  # rows-only: hash family is engine-specific
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate documents via MinHashLSH (MLlib): shingle → binary
    HashingTF vector → banded min-hash → approxSimilarityJoin. The LSH
    band join is the 100 TB dedup path: candidate pairs come from equal
    band buckets, never from an all-pairs product.

    Reference parity: the reference has no dedup at all [P]; this is the
    driver-mandated extension (BASELINE.json:6)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..functions.text import shingles, words

    # NULL/short text → NULL/empty shingle array. A size(sh) > 0 filter
    # alone is NOT enough: InferFiltersFromConstraints adds
    # isnotnull(UDF(features)) for the LSH hash UDF and CombineFilters
    # can order that conjunct BEFORE the size gate, so MinHashLSHModel's
    # "at least 1 non zero entry" requirement fires on rows the gate
    # would have dropped (observed under the nullmix fixture). Make the
    # UDF input valid BY CONSTRUCTION instead: degenerate docs get a
    # per-doc sentinel shingle (unique ⇒ zero overlap with any other doc
    # ⇒ Jaccard distance 1 > the 0.7 cut, so no spurious pairs), and the
    # size gate stays only to prune them early when it does run first
    # (EDGE_SWEEP_r10 class A).
    d = table(spark, sf_dir, "documents").withColumn(
        "sh", shingles(words(F.col("text")))
    )
    sentinel = F.array(F.concat(F.lit("\x00empty\x00"), F.col("doc_id").cast("string")))
    d = d.withColumn(
        "sh", F.when(F.size("sh") > 0, F.col("sh")).otherwise(sentinel)
    )
    d = d.filter(~F.col("sh")[0].startswith("\x00empty\x00"))
    tf = HashingTF(inputCol="sh", outputCol="features", binary=True, numFeatures=1 << 18)
    feat = tf.transform(d)
    # 6 tables: OR-amplified candidate recall at the 0.7-distance cut is
    # ~0.88 per boundary pair vs 0.94 at 8 — measured full recall of the
    # exact ≥0.3-Jaccard pair set on this corpus at 22% less cost
    # (tests/test_correctness.py pins that recall contract)
    lsh = MinHashLSH(inputCol="features", outputCol="bands", numHashTables=6, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.7, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id1"),
            F.col("datasetB.doc_id").alias("id2"),
            F.round(1 - F.col("jaccard_dist"), 4).alias("est_jaccard"),
        )
        .orderBy(F.col("est_jaccard").desc(), "id1", "id2")
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2, ROUND(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
    FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
    WHERE c * 1.0 / (x.n + y.n - c) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup docs by exact word-3-gram Jaccard ≥ 0.3 via an inverted
    shingle index: pair rows are generated only for docs sharing a
    shingle (|shingle| buckets, never |docs|²).

    Two bounded shuffles, no broadcast, no self-join — the shape that
    survives 100 TB (a broadcast of the shingle index would be
    corpus-sized): per-doc shingle sets are dedup'd row-locally with
    `array_distinct` (no global distinct shuffle) and each set's size
    rides along through the explode (no groupBy-count shuffle, no
    size-lookup joins later); shuffle 1 groups postings by shingle;
    candidate pairs are then generated *inside* each bucket with pure
    array ops (sorted bucket × upper-triangle slice); shuffle 2
    partial-aggregates the per-pair intersection counts map-side.

    Scale notes: (a) on Zipfian real-text corpora a stop-shingle with
    df=10⁶ would emit ~5·10¹¹ pairs from one task, so posting lists
    longer than `max_df` are dropped before pair generation (df that
    high adds candidates but near-zero Jaccard mass; PPJoin prefix
    filtering is the lossless alternative — on this fixture's uniform
    31-word vocab a prefix prunes nothing, measured 5× slower, so the
    capped inverted index is the right plan). The default cap is far
    above any fixture df, leaving fixture output byte-identical;
    (b) `collect_list` per shingle bucket is bounded by `max_df`,
    not corpus size."""
    return _ngram_jaccard_pairs(spark, sf_dir)


def _ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, max_df: int = 10_000
) -> DataFrame:
    # PPJoin length filter: J = c/(n1+n2-c) ≤ min(n1,n2)/max(n1,n2), so a
    # pair whose set sizes differ by more than the threshold ratio can
    # never reach J ≥ 0.3 — lossless prune of the pair shuffle
    inter = shingle_pair_counts(spark, sf_dir, max_df, min_len_ratio=0.3)
    jac = F.col("c") / (F.col("n1") + F.col("n2") - F.col("c"))
    return inter.filter(jac >= 0.3).select(
        "id1", "id2", F.round(jac, 4).alias("jaccard")
    )


def shingle_pair_counts(
    spark: SparkSession,
    sf_dir: str,
    max_df: int = 10_000,
    min_len_ratio: float | None = None,
) -> DataFrame:
    """Candidate doc pairs sharing ≥1 word-3-gram with intersection count:
    (id1, id2, n1, n2, c) — the shared core of dedup_ngram_jaccard and
    text_containment (wave4). `min_len_ratio` applies the PPJoin length
    filter map-side (valid for resemblance thresholds, NOT for
    containment — a contained doc is legitimately much smaller)."""
    d = table(spark, sf_dir, "documents")
    # Parallelism gate: parquet scans split on maxPartitionBytes, but a
    # single row group cannot be split, so a small corpus lands in ONE
    # task and the CPU-heavy shingle HOFs serialize (measured 2.16 s at
    # sf0.1). Repartition the RAW doc rows (not the exploded postings —
    # shuffling computed shingle arrays measured 2× slower) only when the
    # scan is narrower than the cluster: at 100 TB the scan is thousands
    # of splits and this is a no-op, costing zero shuffles.
    # inputFiles() is a metadata lookup; df.rdd.getNumPartitions() would
    # trigger a plan-conversion job per call (measured +0.5 s)
    par = spark.sparkContext.defaultParallelism
    if len(d.inputFiles()) < par:
        d = d.repartition(par)
    sets = d.select(
        "doc_id", F.array_distinct(shingles(words(F.col("text")))).alias("shs")
    )
    sh = sets.select(
        "doc_id", F.size("shs").alias("n"), F.explode("shs").alias("shingle")
    )
    buckets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds")
    )
    # hot-shingle cap: a posting list longer than max_df is a stop-shingle
    # (quadratic pair blowup, near-zero Jaccard mass) — drop it before the
    # upper-triangle expansion (VERDICT r1 wrong-#3)
    buckets = buckets.filter(F.size("ds") <= max_df)
    # upper-triangle pair generation inside each posting list: doc_ids are
    # unique per bucket (array_distinct above) and sorted, so i<j ⇒ id1<id2
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ds"),
                            i + 2,
                            F.greatest(F.size("ds") - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(
                            x["doc_id"].alias("id1"),
                            x["n"].alias("n1"),
                            y["doc_id"].alias("id2"),
                            y["n"].alias("n2"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*")
    if min_len_ratio is not None:
        # same stage as the explode → pruned pairs never enter the shuffle
        pairs = pairs.filter(
            F.least("n1", "n2") >= min_len_ratio * F.greatest("n1", "n2")
        )
    return pairs.groupBy("id1", "id2", "n1", "n2").agg(
        F.count(F.lit(1)).alias("c")
    )


@register(
    "dedup_cluster_cc",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2
      FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      WHERE c * 1.0 / (x.n + y.n - c) >= 0.3
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph (each doc labeled with the min doc_id reachable
    from it) — the step every real dedup pipeline runs after pair
    generation, so 'A≈B, B≈C' keeps one representative of {A,B,C}, not
    two.

    Iterative min-label propagation as a driver loop over DataFrames:
    each round joins labels to edges, takes the per-node min, and
    `localCheckpoint` truncates the growing lineage; rounds ≤ graph
    diameter (near-dup clusters are shallow — a handful here). Labels
    only ever decrease under min-propagation, so convergence is
    `sum(label)` reaching a fixpoint — one O(1)-result aggregate per
    round on the already-checkpointed frame, no join against the
    previous round's labels (which doubled per-round work). At massive
    scale swap the propagation step for the two-phase large-star/
    small-star contraction, which bounds rounds by O(log n) independent
    of diameter; the oracle (DuckDB recursive CTE transitive closure)
    is identical either way."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id1", "id2")
    edges = pairs.union(
        pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    ).toDF("src", "dst").localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(20):  # diameter guard; converges in ~3 rounds here
        msgs = labels.join(edges, labels.node == edges.src).select(
            F.col("dst").alias("node"), "label"
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@register(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             array_to_string(string_split(text, ' ')[1:3], ' ') AS blk,
             length(text) AS len
      FROM documents
    )
    SELECT a.doc_id AS id1, b2.doc_id AS id2,
           levenshtein(a.text, b2.text) AS lev
    FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id
    WHERE levenshtein(a.text, b2.text) <= 0.3 * greatest(a.len, b2.len)
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: pairs within 30% relative Levenshtein,
    candidates blocked on the first 3 words (a cheap canopy — O(n²)
    string comparison only happens inside a block, and the block join is
    an ordinary shuffled equi-join, no broadcast, no all-pairs). The
    distance itself is `F.levenshtein` — JVM-side, identical semantics
    to the oracle's. At 100 TB, widen recall with multiple block keys
    (prefix, suffix, length bucket) unioned before the distinct.

    Scale path (r6 probe-caught: 70× wall on the 8× dup-mass fixture —
    every verbatim copy pair ran the full O(len²) DP, serialized on the
    scan's few splits). Three semantic no-ops fix it, so the oracle is
    byte-identical: (1) equality fast path — lev(t,t)=0 without DP,
    which is exactly the dup-mass case a dedup operator exists for;
    (2) length-band prefilter — lev ≥ |len1−len2|, so a pair outside
    the 30% length band can never pass the threshold and skips DP;
    (3) the parallelism gate (same rationale as `dedup_ngram_jaccard`
    above) so the CPU-heavy DP stage runs cluster-wide, not on the
    fixture's row-group count. Post-fix probe: 8× wall 77.4 s → 3.6 s,
    ratio 5.5 (was 70.3) — inside the dedup family band."""
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if len(d.inputFiles()) < par:  # metadata-only gate; no-op at scale
        d = d.repartition(par)
    b = d.select(
        "doc_id",
        "text",
        F.concat_ws(" ", F.slice(words(F.col("text")), 1, 3)).alias("blk"),
        F.length("text").alias("len"),
    )
    a = b.select(
        F.col("doc_id").alias("id1"),
        F.col("text").alias("t1"),
        "blk",
        F.col("len").alias("len1"),
    )
    c = b.select(
        F.col("doc_id").alias("id2"),
        F.col("text").alias("t2"),
        "blk",
        F.col("len").alias("len2"),
    )
    # equality fast path: lev(t,t) = 0 — verbatim duplicates (the bulk
    # of any real dup mass) never run the DP
    lev = F.when(F.col("t1") == F.col("t2"), F.lit(0)).otherwise(
        F.levenshtein("t1", "t2")
    )
    return (
        a.join(c, "blk")
        .filter(F.col("id1") < F.col("id2"))
        # band prefilter: lev >= |len1-len2|, so any pair outside the
        # 30% length band fails the threshold without running the DP
        .filter(
            F.abs(F.col("len1") - F.col("len2"))
            <= 0.3 * F.greatest("len1", "len2")
        )
        .withColumn("lev", lev)
        .filter(F.col("lev") <= 0.3 * F.greatest("len1", "len2"))
        .select("id1", "id2", "lev")
    )


@register("dedup_simhash")  # rows-only: xxhash64 family is Spark-specific
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature = sign-aggregated bit votes of
    per-word xxhash64; candidates = equal 16-bit bands (4 bands → Hamming
    ≤ 3 guaranteed recall is probabilistic); the band join is the scale
    path (no all-pairs).

    The word hashes stay JVM-side (`xxhash64`), but the 64 bit votes per
    hash are a vectorized Arrow-batch pandas UDF: the pure-Column
    formulation needs either 64 `aggregate` traversals of the hash array
    or per-word 64-element array allocations, both measured 3–5× slower
    at sf0.1 (3.0 s vs 0.6 s warm) — exactly the 'builtin ops genuinely
    can't express it efficiently' case for a pandas UDF.

    A NULL document has no signature — gated before the UDF (None cells
    crash the numpy bit-vote stack; EDGE_SWEEP_r10 class A)."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("ws", words(F.col("text")))
    )
    # one xxhash64 per word, reused by all 64 bit votes
    d = d.withColumn("hs", F.transform("ws", lambda w: F.xxhash64(w)))

    @F.pandas_udf("bigint")
    def simhash64(hs: pd.Series) -> pd.Series:
        bits = np.arange(64, dtype=np.uint64)
        one = np.uint64(1)
        out = np.empty(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            # votes[b] = #words with bit b set minus #words without it
            votes = (((h[:, None] >> bits) & one).astype(np.int32) * 2 - 1).sum(
                axis=0
            )
            out[i] = np.bitwise_or.reduce(
                np.where(votes > 0, one << bits, np.uint64(0))
            ).astype(np.int64)
        return pd.Series(out)

    sigs = d.select("doc_id", simhash64("hs").alias("simhash"))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    )
    a = bands.select(F.col("doc_id").alias("id1"), F.col("simhash").alias("s1"), "bk")
    b = bands.select(F.col("doc_id").alias("id2"), F.col("simhash").alias("s2"), "bk")
    cand = (
        a.join(b, ["bk"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "s1", "s2")
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 12)
        .select("id1", "id2", "hamming")
        .orderBy("hamming", "id1", "id2")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
      AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ 0.45 (fixture max is
    ~0.51; real corpora use ~0.95), via the same blocked GEMM as
    sim_topk_pairs with a threshold instead of top-k. NULL embeddings
    are not vectors — gated before the GEMM (mirrored IS NOT NULL in
    the oracle; EDGE_SWEEP_r10 class A)."""
    from ..functions.similarity import blocked_pair_topk

    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("emb"))
    )
    return blocked_pair_topk(e, n_blocks=8, per_block_k=None, threshold=0.45).select(
        "id1", "id2", "cos_sim"
    )


@register(
    "dedup_pipeline_e2e",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2
      FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      WHERE c * 1.0 / (x.n + y.n - c) >= 0.3
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
    dropped AS (SELECT node FROM labels WHERE node <> label)
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
    FROM documents WHERE doc_id NOT IN (SELECT node FROM dropped)
    """,
)
def dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dedup pipeline a training-data curation run executes:
    shingle → inverted-index Jaccard pairs → connected components →
    keep ONE representative per duplicate cluster (the min doc_id label)
    → surviving-corpus stats. Composes dedup_ngram_jaccard and
    dedup_cluster_cc; the drop step is a broadcast-able anti-join of the
    (small) dropped-id set against the corpus — at 100 TB the drop list
    is duplicates-only, orders of magnitude smaller than the corpus."""
    labels = dedup_cluster_cc(spark, sf_dir)
    dropped = labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    d = table(spark, sf_dir, "documents")
    survivors = d.join(F.broadcast(dropped), "doc_id", "left_anti")
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
    )


@register("dedup_method_overlap")  # rows-only: summarizes 3 pipelines, two
# of which are banding-based (not SQL-expressible); invariants in tests
def dedup_method_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup bake-off report: run the exact n-gram Jaccard, pure
    MinHash-LSH, and SimHash pipelines over the same corpus and tabulate
    pairwise agreement — (method_a, method_b, n_a, n_b, n_both). This is
    the table that answers 'which near-dup method do we ship?' with
    recall-vs-cost evidence instead of folklore (and at 100 TB it runs
    on a sampled shard first, same code).

    Each method's pair set is tiny (near-dup pairs, not the corpus), so
    the overlap matrix is cheap unions/joins of the already-reduced
    outputs; the expensive parts are the three pipelines themselves,
    shapes audited under their own keys."""
    from .dedup_extra import dedup_ngram_jaccard, dedup_simhash
    from .wave5 import dedup_minhash_pure

    methods = {
        "jaccard08": dedup_ngram_jaccard(spark, sf_dir).filter(
            F.col("jaccard") >= 0.8
        ),
        "minhash": dedup_minhash_pure(spark, sf_dir),
        "simhash": dedup_simhash(spark, sf_dir),
    }
    sets = {
        name: df.select("id1", "id2").distinct().localCheckpoint()
        for name, df in methods.items()
    }
    rows = []
    names = sorted(sets)
    counts = {n: sets[n].count() for n in names}
    for i, a in enumerate(names):
        for b in names[i:]:
            both = (
                sets[a].join(sets[b], ["id1", "id2"]).count()
                if a != b
                else counts[a]
            )
            rows.append((a, b, counts[a], counts[b], both))
    return spark.createDataFrame(
        rows, "method_a string, method_b string, n_a long, n_b long, n_both long"
    )


@register(
    "dedup_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT CASE user_id % 3
               WHEN 0 THEN 'CDN.Example.COM'
               WHEN 1 THEN 'cdn.example.com'
               ELSE 'WWW.Example.com:443' END          AS host,
             '/p/' || CAST(event_id % 20 AS VARCHAR)    AS path,
             CASE event_id % 4
               WHEN 0 THEN 'b=2&a=1'
               WHEN 1 THEN 'a=1&b=2'
               WHEN 2 THEN 'a=1&utm_source=x&b=2'
               ELSE 'utm_campaign=y&b=2&a=1' END        AS q
      FROM events
    ),
    canon AS (
      SELECT lower(split_part(host, ':', 1)) || path || '?' ||
             array_to_string(
               list_sort(list_filter(string_split(q, '&'),
                                     x -> NOT starts_with(x, 'utm_'))),
               '&')                                     AS canonical_url,
             host || path || '?' || q                   AS raw_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT)                AS n_raw,
           CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_variants
    FROM canon GROUP BY canonical_url
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL deduplication: case-fold the host, strip the port,
    drop ``utm_*`` tracking parameters, sort the remaining query
    parameters — so the four raw spellings of one resource collapse to
    one canonical key. This is the first dedup rung of every web-crawl
    corpus (fetch-list and index dedup BEFORE any content hashing);
    RFC 3986 §6 normalization plus the tracking-param convention.

    Entirely scan-local Column work (split/filter/array_sort HOFs in
    codegen — no UDF, no regex backtracking) followed by ONE group-by
    on the canonical key; at 100 TB the canonical key is what you
    partition the crawl store by, so the dedup shuffle IS the layout
    write. Fixture URLs are synthesized deterministically from events
    (same recipe discipline as `str_url_funcs`); the oracle re-derives
    them identically, so the hash check exercises the full
    canonicalization."""
    e = table(spark, sf_dir, "events")
    host = (
        F.when(F.col("user_id") % 3 == 0, F.lit("CDN.Example.COM"))
        .when(F.col("user_id") % 3 == 1, F.lit("cdn.example.com"))
        .otherwise(F.lit("WWW.Example.com:443"))
    )
    path = F.concat(F.lit("/p/"), (F.col("event_id") % 20).cast("string"))
    q = (
        F.when(F.col("event_id") % 4 == 0, F.lit("b=2&a=1"))
        .when(F.col("event_id") % 4 == 1, F.lit("a=1&b=2"))
        .when(F.col("event_id") % 4 == 2, F.lit("a=1&utm_source=x&b=2"))
        .otherwise(F.lit("utm_campaign=y&b=2&a=1"))
    )
    raw = e.select(host.alias("host"), path.alias("path"), q.alias("q"))
    canonical = F.concat(
        F.lower(F.expr("split_part(host, ':', 1)")),
        F.col("path"),
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split("q", "&"),
                    lambda x: ~x.startswith("utm_"),
                )
            ),
            "&",
        ),
    )
    return (
        raw.select(
            canonical.alias("canonical_url"),
            F.concat("host", "path", F.lit("?"), "q").alias("raw_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("raw_url").alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_bloom_screen
# ---------------------------------------------------------------------------
_SCREEN_BITS = 1 << 21  # 2 Mbit = 32768 longs = 256 KB shipped once
_SCREEN_K = 5
_SHINGLE_W = 5


def _shingles(df: DataFrame) -> DataFrame:
    """Distinct word 5-gram shingles per doc (plain space split — the
    `text_containment` convention)."""
    return (
        df.select(
            "doc_id",
            "source",
            F.split("text", " ").alias("ws"),
        )
        .filter(F.size("ws") >= _SHINGLE_W)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {_SHINGLE_W - 1}),"
                    f" i -> array_join(slice(ws, i, {_SHINGLE_W}), ' '))"
                )
            ).alias("sh"),
        )
        .distinct()
    )


def _bloom_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(hist shingle set, pre-checkpoint flagged new batch) — split out
    so tests can pin the PRE-checkpoint screen plan (all-broadcast
    probes, no data-sized exchange), which the operator's checkpoint
    would otherwise hide (the `graph_label_propagation` pin pattern)."""
    d = table(spark, sf_dir, "documents")
    # both shingle sets feed >= 2 downstream jobs (bloom build + verify
    # join; screen + per-doc report) — checkpoint the explode+distinct
    # once instead of re-running it per job (the Lloyd-iteration lesson)
    hist = (
        _shingles(d.filter(F.col("doc_id") % 10 < 8))
        .select("sh").distinct().localCheckpoint(eager=False)
    )
    new = _shingles(d.filter(F.col("doc_id") % 10 >= 8)).localCheckpoint(
        eager=False
    )

    # build: aggregate the k probe positions into (word, bits) rows —
    # the filter STAYS a DataFrame end-to-end (no driver round-trip, no
    # 32768-element literal: PySpark lit(list) expands to one node per
    # element and melts analysis/codegen)
    pos = [
        F.expr(f"pmod(xxhash64({i}, sh), {_SCREEN_BITS})")
        for i in range(_SCREEN_K)
    ]
    words = (
        hist.select(F.explode(F.array(*pos)).alias("p"))
        .select(
            F.shiftright(F.col("p").cast("int"), 6).alias("w"),
            F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .localCheckpoint(eager=False)  # probed 5x below; build once
    )

    # probe: one broadcast hash join per probe against the <=32768-row
    # bitmap table (scan-local; the new batch never shuffles)
    probed = new
    conds = []
    for i in range(_SCREEN_K):
        p = f"pmod(xxhash64({i}, sh), {_SCREEN_BITS})"
        probed = probed.withColumn(
            f"w{i}", F.expr(f"cast(shiftright(cast({p} as int), 6) as int)")
        ).withColumn(f"m{i}", F.expr(f"shiftleft(1L, cast(pmod({p}, 64) as int))"))
        probed = probed.join(
            F.broadcast(
                words.select(
                    F.col("w").alias(f"w{i}"), F.col("bits").alias(f"b{i}")
                )
            ),
            f"w{i}",
            "left",
        )
        conds.append(
            F.coalesce(F.col(f"b{i}"), F.lit(0)).bitwiseAND(F.col(f"m{i}")) != 0
        )
    flagged = probed.withColumn("bloom_hit", reduce(and_, conds)).select(
        "doc_id", "source", "sh", "bloom_hit"
    )
    return hist, flagged


@register("dedup_bloom_screen")  # rows-only: bloom-hit counts depend on
# xxhash64 (no DuckDB analog); the zero-false-negative + exact-count +
# FP-bound contracts are pinned in tests
def dedup_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental contamination screen: does a NEW batch of documents
    (doc_id%10 >= 8) share any word 5-gram with the HISTORICAL corpus
    (doc_id%10 < 8)? The historical shingle set is compressed into one
    2 Mbit Bloom bitmap (k=5 xxhash64 probes) aggregated executor-side
    into a <= 32768-row (word, bits) table — O(filter size) state
    regardless of corpus size, never collected to the driver — and each
    probe is a broadcast hash join against that KB-sized table, so the
    99% of new shingles that match nothing die scan-side without ever
    joining the historical table. Bloom admits no
    false negatives, so the exact semi-join verify on the surviving
    candidates restores precision — at 100 TB the verify join processes
    ~FP-rate of the batch instead of all of it (the `text_decontaminate`
    semantics at sketch cost; `join_bloom_prefilter` is the same trick
    for equi-joins). Per-source report: shingle volumes, bloom hits,
    exact hits (the false-positive gap is the measured FP rate), and
    docs flagged by exact containment."""
    hist, flagged = _bloom_parts(spark, sf_dir)
    # two consumers (per-doc report + exact verify) — checkpoint so the
    # 5-probe screen evaluates once, not once per branch
    flagged = flagged.localCheckpoint(eager=False)

    cand = flagged.filter("bloom_hit")
    exact = cand.join(hist, "sh", "left_semi").select(
        "doc_id", "source", F.lit(1).alias("exact_hit")
    )
    per_doc = (
        flagged.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count_if("bloom_hit").alias("n_bloom"),
        )
        .join(
            exact.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_exact")),
            "doc_id",
            "left",
        )
        .fillna(0, ["n_exact"])
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
            F.sum("n_bloom").alias("n_bloom_hits"),
            F.sum("n_exact").alias("n_exact_hits"),
            (F.sum("n_bloom") - F.sum("n_exact")).alias("n_false_pos"),
            F.count_if(F.col("n_exact") > 0).alias("docs_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_minhash_incremental
# ---------------------------------------------------------------------------
_MHI_HASHES = 32
_MHI_BANDS = 8  # r = 4 rows/band, same operating point as dedup_minhash_pure


@register("dedup_minhash_incremental")  # rows-only: banding is
# probabilistic and signatures are xxhash64-engine-specific; the
# cross-split recall vs the batch-global key is pinned in tests
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen: MinHash band buckets of the NEW doc
    batch (doc_id%10 >= 8) probed against the HISTORICAL corpus's band
    buckets (doc_id%10 < 8), candidates verified with EXACT Jaccard —
    `dedup_minhash_pure`'s machinery restricted to cross-split pairs
    (the ingest-time question "is this new doc a near-dup of anything
    we already have?"), and the sketch-cost sibling of
    `dedup_bloom_screen` (which screens exact n-gram containment). At
    100 TB the historical band buckets are a STORED index keyed by
    (band, bucket): each ingest batch computes its own signatures
    row-locally and equi-joins that index — the historical corpus is
    never re-scanned, and precision is 1.0 by construction because
    every candidate is verified on the carried shingle sets.

    One band-key equi-join (new side tiny, AQE broadcasts it;
    co-partitioned hash join at scale), one pair dedup, one verify
    join — all keyed, hot buckets capped like the batch key."""
    from ..functions.text import shingles, words

    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if len(d.inputFiles()) < par:
        d = d.repartition(par)
    sets = d.select(
        "doc_id",
        (F.col("doc_id") % 10 >= 8).alias("is_new"),
        F.array_distinct(shingles(words(F.col("text")))).alias("shs"),
    ).filter(F.size("shs") > 0)
    sets = sets.localCheckpoint()  # signatures + both verify arms
    sig = sets.select(
        "doc_id",
        "is_new",
        F.transform(
            F.sequence(F.lit(0), F.lit(_MHI_HASHES - 1)),
            lambda j: F.array_min(
                F.transform(
                    F.col("shs"),
                    lambda s: F.xxhash64(F.concat(j.cast("string"), F.lit("|"), s)),
                )
            ),
        ).alias("sig"),
    )
    r = _MHI_HASHES // _MHI_BANDS
    band_cols = [
        F.xxhash64(
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[
                    F.element_at("sig", b * r + i + 1).cast("string")
                    for i in range(r)
                ],
            )
        ).alias(f"bk{b}")
        for b in range(_MHI_BANDS)
    ]
    bands = sig.select(
        "doc_id", "is_new", F.array(*band_cols).alias("bks")
    ).select("doc_id", "is_new", F.explode("bks").alias("bk"))
    hist_b = bands.filter(~F.col("is_new")).select(
        F.col("bk"), F.col("doc_id").alias("hist_id")
    )
    new_b = bands.filter("is_new").select(
        F.col("bk"), F.col("doc_id").alias("new_id")
    )
    # cap pathological buckets (boilerplate bands), same guard family
    # as the batch key: a bucket with >10k historical members adds no
    # dedup information and only quadratic join mass
    hist_sizes = hist_b.groupBy("bk").agg(F.count(F.lit(1)).alias("nb"))
    hist_b = hist_b.join(
        hist_sizes.filter(F.col("nb") <= 10_000).select("bk"), "bk"
    )
    cand = (
        new_b.join(hist_b, "bk")
        .select("new_id", "hist_id")
        .distinct()
    )
    lhs = sets.select(F.col("doc_id").alias("new_id"), F.col("shs").alias("shs1"))
    rhs = sets.select(F.col("doc_id").alias("hist_id"), F.col("shs").alias("shs2"))
    inter = F.size(F.array_intersect("shs1", "shs2"))
    verified = (
        cand.join(lhs, "new_id")
        .join(rhs, "hist_id")
        .select(
            "new_id",
            "hist_id",
            (
                inter / (F.size("shs1") + F.size("shs2") - inter)
            ).alias("j"),
        )
        .filter(F.col("j") >= 0.8)
    )
    return verified.select(
        "new_id", "hist_id", F.round("j", 4).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# dedup_canonical_doc
# ---------------------------------------------------------------------------
@register(
    "dedup_canonical_doc",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2
      FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      WHERE c * 1.0 / (x.n + y.n - c) >= 0.3
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION ALL SELECT id2, id1 FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    lab AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
    m AS (
      SELECT l.cluster_id, l.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM lab l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars
    FROM m GROUP BY cluster_id HAVING COUNT(*) >= 2
    """,
)
def dedup_canonical_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection: for every multi-member duplicate
    cluster (labels from `dedup_cluster_cc`'s min-label propagation),
    KEEP the longest member (ties to the lowest doc_id) and account for
    what the dedup drops — members, total vs kept characters. This is
    the decision step that turns cluster labels into a deduplicated
    corpus; 'keep the longest' is the standard canonicalization
    heuristic (the longest near-dup is usually the least-truncated
    crawl of the resource).

    The cluster labels reuse the CC fold (bounded rounds, checkpointed);
    representative election is one per-cluster argmax window that
    prunes via WindowGroupLimit; the rollup is cluster-keyed. The
    oracle extends the CC recursive-CTE transitive closure with the
    same deterministic argmax."""
    from .dedup_extra import dedup_cluster_cc

    labels = dedup_cluster_cc(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = labels.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    ranked = m.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("rep_doc_id"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )


# ---------------------------------------------------------------------------
# dedup_threshold_curve
# ---------------------------------------------------------------------------
@register(
    "dedup_threshold_curve",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id1, id2, c, x.n + y.n - c AS den
      FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      WHERE c * 10000 >= 3000 * (x.n + y.n - c)
    ),
    th(t_bp) AS (VALUES (3000), (5000), (7000), (9000))
    SELECT CAST(t_bp AS INT) AS t_bp,
           CAST(count_if(c * 10000 >= t_bp * den) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN c * 10000 >= t_bp * den
                                    THEN id2 END) AS BIGINT)
             AS n_docs_droppable
    FROM jac CROSS JOIN th GROUP BY t_bp ORDER BY t_bp
    """,
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning curve: near-dup pair counts and droppable
    docs (keep-lowest-id rule: a doc is droppable when it is the
    HIGHER id of some qualifying pair) at Jaccard ∈ {0.30, 0.50, 0.70,
    0.90} — the sensitivity report that decides where a production
    dedup sets its cut before `dedup_pipeline_e2e` commits to one.

    Reuses the shared inverted-shingle-index pair core
    (`dedup_extra.shingle_pair_counts` — bucket-local pair generation,
    max_df cap, NO length-ratio prune here since the curve needs
    J ≥ 0.3 pairs exactly); the threshold sweep is then a 4-row grid
    over the SAME pair table (one pass, no re-scoring per threshold).
    Pair counts use integer basis-point comparison so no float decides
    a boundary."""
    from .dedup_extra import shingle_pair_counts

    pairs = shingle_pair_counts(spark, sf_dir, min_len_ratio=0.3)
    jac = pairs.select(
        "id2",
        (F.col("c") * 10000).alias("c_bp"),
        (F.col("n1") + F.col("n2") - F.col("c")).alias("den"),
    ).filter(F.col("c_bp") >= 3000 * F.col("den"))
    th = spark.createDataFrame([(3000,), (5000,), (7000,), (9000,)], "t_bp int")
    audited = jac.crossJoin(F.broadcast(th))
    qual = F.col("c_bp") >= F.col("t_bp") * F.col("den")
    return (
        audited.groupBy("t_bp")
        .agg(
            F.count_if(qual).cast("bigint").alias("n_pairs"),
            F.countDistinct(F.when(qual, F.col("id2")))
            .cast("bigint")
            .alias("n_docs_droppable"),
        )
        .orderBy("t_bp")
    )


# ---------------------------------------------------------------------------
# dedup_phonetic_blocking
# ---------------------------------------------------------------------------
def soundex_py(word: str) -> str:
    """Reference Soundex (American, as implemented by Spark's
    `F.soundex`): first letter + 3 digits, adjacent duplicate codes
    collapsed, h/w transparent between same-coded consonants,
    vowels reset the run."""
    if not word:
        return ""
    word = word.upper()
    if not word[0].isalpha():
        return word
    codes = {
        **dict.fromkeys("BFPV", "1"),
        **dict.fromkeys("CGJKQSXZ", "2"),
        **dict.fromkeys("DT", "3"),
        "L": "4",
        **dict.fromkeys("MN", "5"),
        "R": "6",
    }
    out = word[0]
    prev = codes.get(word[0], "")
    for ch in word[1:]:
        if ch in "HW":
            continue  # transparent: does NOT reset the previous code
        code = codes.get(ch, "")
        if code and code != prev:
            out += code
            if len(out) == 4:
                break
        prev = code
    return (out + "000")[:4]


@register("dedup_phonetic_blocking")  # rows-only: DuckDB has no soundex
def dedup_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity resolution: Soundex codes over the
    part-name vocabulary put sound-alike tokens ('green'/'grain') in
    one block, and only WITHIN-block pairs proceed to expensive edit
    distance — the classic blocking step that turns O(N²) fuzzy
    matching into Σ O(block²) (the `dedup_fuzzy_levenshtein` canopy,
    with phonetics instead of length buckets). Reports the block-size
    distribution and the candidate-pair budget it implies.

    `F.soundex` is JVM codegen on the token table (one distinct +
    one block rollup); the suite pins Spark's soundex against the
    pure-python reference above on the full vocabulary, then pins the
    pair-budget arithmetic."""
    tok = (
        table(spark, sf_dir, "part")
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    blocks = (
        tok.groupBy(F.soundex("w").alias("block"))
        .agg(F.count(F.lit(1)).alias("n_words"))
    )
    return blocks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.max("n_words").cast("bigint").alias("max_block"),
        F.round(F.avg("n_words"), 4).alias("mean_block"),
        F.sum(F.col("n_words") * (F.col("n_words") - 1) / 2)
        .cast("bigint")
        .alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# dedup_entity_resolution
# ---------------------------------------------------------------------------
@register(
    "dedup_entity_resolution",
    oracle="""
    WITH names AS (
      SELECT DISTINCT t.w AS name
      FROM part, UNNEST(string_split(p_name, ' ')) AS t(w)
      WHERE t.w <> '' AND len(t.w) >= 4
    ),
    dirty AS (  -- deterministic corruption: drop the middle character
      SELECT name,
             substr(name, 1, (len(name) - 1) // 2)
               || substr(name, (len(name) - 1) // 2 + 2) AS noisy
      FROM names
    ),
    cand AS (  -- blocking on the first character
      SELECT d.noisy, n.name AS candidate,
             levenshtein(d.noisy, n.name) AS dist
      FROM dirty d JOIN names n
        ON substr(d.noisy, 1, 1) = substr(n.name, 1, 1)
    ),
    best AS (
      SELECT noisy, candidate, dist,
             ROW_NUMBER() OVER (PARTITION BY noisy
                                ORDER BY dist, candidate) AS rn
      FROM cand
    ),
    resolved AS (
      SELECT d.name AS truth, b.candidate, b.dist
      FROM dirty d JOIN best b ON d.noisy = b.noisy AND b.rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
           -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
           CAST(COALESCE(count_if(candidate = truth), 0) AS BIGINT) AS n_correct,
           CAST(COALESCE(count_if(dist <= 1), 0) AS BIGINT) AS n_within_1,
           ROUND(AVG(dist), 4) AS mean_dist,
           CAST(10000 * count_if(candidate = truth) // COUNT(*) AS BIGINT)
             AS accuracy_bp
    FROM resolved
    """,
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end (Fellegi–Sunter pipeline shape):
    corrupt every part-name token deterministically (middle character
    dropped — a typo model), then resolve each dirty string back via
    first-letter BLOCKING + Levenshtein argmin, and report resolution
    accuracy against the known truth. The measured-accuracy version of
    what `dedup_phonetic_blocking` (candidate budget) and
    `dedup_fuzzy_levenshtein` (pair scoring) each show half of.

    Blocking keeps the candidate join at Σ O(block²), never
    names×names; edit distance is JVM codegen; the argmin is a
    per-dirty-string WindowGroupLimit window. Deterministic corruption
    means the accuracy is a pure fixture function — reruns and engines
    agree exactly."""
    names = (
        table(spark, sf_dir, "part")
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("name"))
        .filter((F.col("name") != "") & (F.length("name") >= 4))
        .distinct()
        .localCheckpoint()  # truth list reused: corruption + candidates
    )
    half = (F.length("name") - 1) / 2
    dirty = names.select(
        "name",
        F.concat(
            F.expr("substr(name, 1, CAST((length(name) - 1) / 2 AS INT))"),
            F.expr("substr(name, CAST((length(name) - 1) / 2 AS INT) + 2)"),
        ).alias("noisy"),
    )
    cand = dirty.select("noisy").join(
        names.withColumnRenamed("name", "candidate"),
        F.substring("noisy", 1, 1) == F.substring("candidate", 1, 1),
    ).select(
        "noisy",
        "candidate",
        F.levenshtein("noisy", "candidate").alias("dist"),
    )
    wb = Window.partitionBy("noisy").orderBy("dist", "candidate")
    best = cand.withColumn("rn", F.row_number().over(wb)).filter(F.col("rn") == 1)
    resolved = dirty.join(best, "noisy").select(
        F.col("name").alias("truth"), "candidate", "dist"
    )
    ok = F.col("candidate") == F.col("truth")
    return resolved.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.count_if(ok).cast("bigint").alias("n_correct"),
        F.count_if(F.col("dist") <= 1).cast("bigint").alias("n_within_1"),
        F.round(F.avg("dist"), 4).alias("mean_dist"),
        F.expr(
            # zero entities: accuracy undefined -> NULL, the value DuckDB's
            # `//` yields on a zero divisor (r7 edge sweep — DIV raised)
            "CASE WHEN count(1) = 0 THEN NULL ELSE"
            " 10000 * count_if(candidate = truth) DIV count(1) END"
        )
        .cast("bigint")
        .alias("accuracy_bp"),
    )


# ---------------------------------------------------------------------------
# dedup_provenance_split
# ---------------------------------------------------------------------------
@register(
    "dedup_provenance_split",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2
      FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      WHERE c * 10 >= 3 * (x.n + y.n - c)
    ),
    src AS (SELECT doc_id, source FROM documents),
    tagged AS (
      SELECT (s1.source = s2.source) AS same_source
      FROM pairs p
      JOIN src s1 ON p.id1 = s1.doc_id
      JOIN src s2 ON p.id2 = s2.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
           CAST(COALESCE(count_if(same_source), 0) AS BIGINT) AS within_source,
           CAST(COALESCE(count_if(NOT same_source), 0) AS BIGINT) AS cross_source,
           CAST(10000 * COALESCE(count_if(same_source), 0)
                // greatest(COUNT(*), 1) AS BIGINT) AS within_bp
    FROM tagged
    """,
)
def dedup_provenance_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup provenance diagnostic: near-duplicate pairs (J ≥ 0.3,
    integer cross-multiplied) split into WITHIN-source vs CROSS-source
    — the curation decision this number drives is real: within-source
    duplication is a crawler/boilerplate problem fixed upstream
    (per-shard dedup suffices — cheap), cross-source duplication is
    syndication/mirroring that only GLOBAL dedup catches (expensive).
    `dedup_threshold_curve` says how many pairs; this says WHERE they
    come from.

    Reuses the shared inverted-shingle pair core; the (doc → source)
    dimension is a 2-column broadcast joined onto the qualifying-pair
    table only (never onto the posting lists); 1-row integer report."""
    from .dedup_extra import shingle_pair_counts

    pairs = shingle_pair_counts(spark, sf_dir, min_len_ratio=0.3).filter(
        F.col("c") * 10 >= 3 * (F.col("n1") + F.col("n2") - F.col("c"))
    )
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("id1"), F.col("source").alias("src1"))
    s2 = src.select(F.col("doc_id").alias("id2"), F.col("source").alias("src2"))
    tagged = (
        pairs.join(F.broadcast(s1), "id1")
        .join(F.broadcast(s2), "id2")
        .select((F.col("src1") == F.col("src2")).alias("same_source"))
    )
    same = F.col("same_source")
    return tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_if(same).cast("bigint").alias("within_source"),
        F.count_if(~same).cast("bigint").alias("cross_source"),
        F.expr(
            "10000 * count_if(same_source) DIV greatest(count(1), 1)"
        )
        .cast("bigint")
        .alias("within_bp"),
    )


# ---------------------------------------------------------------------------
# dedup_lsh_scurve
# ---------------------------------------------------------------------------
@register(
    "dedup_lsh_scurve",
    oracle="""
    WITH cfg(bands, rows_per) AS (VALUES (16, 8), (32, 4), (8, 16)),
    grid AS (SELECT j * 0.05 AS j FROM generate_series(1, 19) AS t(j)),
    curve AS (
      SELECT cfg.bands, cfg.rows_per, grid.j,
             1 - POW(1 - POW(grid.j, cfg.rows_per), cfg.bands) AS p_detect
      FROM cfg CROSS JOIN grid
    )
    SELECT CAST(bands AS INT) AS bands,
           CAST(rows_per AS INT) AS rows_per,
           ROUND(j, 2) AS jaccard,
           ROUND(p_detect, 4) AS p_detect
    FROM curve ORDER BY bands, rows_per, jaccard
    """,
)
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH S-curve: detection probability
    1 − (1 − J^r)^b over a Jaccard grid for three (bands, rows)
    budgets sharing 128 hashes — 16×8 (the `dedup_minhash_pure`
    config), 32×4 (recall-leaning) and 8×16 (precision-leaning). The
    curve IS the parameter decision: where it crosses 0.5 is the
    effective threshold, its steepness is the false-positive/negative
    trade — this key makes that choice auditable next to the measured
    `dedup_threshold_curve`.

    Pure deterministic arithmetic over a 3×19 literal grid (pow is
    engine-identical for these operands) — zero table input by design:
    the S-curve is a property of the INDEX, not the corpus, which is
    exactly why it can be tuned before touching 100 TB. (sf_dir is
    accepted and unused — the registry contract.)"""
    cfg = spark.createDataFrame(
        [(16, 8), (32, 4), (8, 16)], "bands int, rows_per int"
    )
    grid = spark.range(1, 20).select((F.col("id") * 0.05).alias("j"))
    curve = cfg.crossJoin(F.broadcast(grid)).select(
        "bands",
        "rows_per",
        F.round("j", 2).alias("jaccard"),
        F.round(
            1 - F.pow(1 - F.pow(F.col("j"), F.col("rows_per")), F.col("bands")), 4
        ).alias("p_detect"),
    )
    return curve.orderBy("bands", "rows_per", "jaccard")


# ---------------------------------------------------------------------------
# dedup_shingle_size_curve
# ---------------------------------------------------------------------------
@register(
    "dedup_shingle_size_curve",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    ks(k) AS (VALUES (2), (3), (5)),
    sh AS (
      SELECT DISTINCT ks.k, w.doc_id,
             array_to_string(ws[i:i+ks.k-1], ' ') AS shingle
      FROM w CROSS JOIN ks,
           UNNEST(generate_series(1, greatest(len(ws) - ks.k + 1, 0))) AS t(i)
    ),
    sz AS (SELECT k, doc_id, COUNT(*) AS n FROM sh GROUP BY k, doc_id),
    df AS (
      SELECT k, shingle FROM sh GROUP BY k, shingle
      HAVING COUNT(*) <= CASE WHEN k = 2 THEN 1000 ELSE 10000 END
    ),
    shc AS (SELECT sh.* FROM sh JOIN df USING (k, shingle)),
    inter AS (
      SELECT a.k, a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM shc a JOIN shc b
        ON a.k = b.k AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.k, a.doc_id, b.doc_id
    )
    SELECT CAST(i.k AS INT) AS shingle_k,
           CAST(count_if(i.c * 10 >= 3 * (x.n + y.n - i.c)) AS BIGINT)
             AS n_pairs_j30,
           CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM inter i
    JOIN sz x ON i.k = x.k AND i.id1 = x.doc_id
    JOIN sz y ON i.k = y.k AND i.id2 = y.doc_id
    GROUP BY i.k ORDER BY shingle_k
    """,
)
def dedup_shingle_size_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER dedup tuning axis: qualifying pairs (J ≥ 0.3) and raw
    candidates as a function of shingle SIZE k ∈ {2,3,5} — small k
    inflates Jaccard (any shared phrase matches: recall up, precision
    down), large k demands long verbatim runs (the reverse);
    `dedup_threshold_curve` tunes WHERE to cut, this tunes WHAT to
    compare. The monotone candidate decline with k is pinned.

    All three shingle sizes ride ONE scan via a broadcast k-grid into
    the array-slice shingling (the word split happens once); the
    shared shingle set is NOT cached — it is corpus-sized, and the r10
    32x unique-text probe showed a pinned localCheckpoint of it
    starving execution memory (checkpoint blocks are un-evictable);
    instead the distinct's exchange is reused by all four consumers
    (Catalyst exchange reuse: one shuffle write, four reads), the
    shape that survives 100 TB. The inverted-index pair generation
    then keys on (k, shingle), so each size's candidates stay in
    their own buckets of the same shuffle, and posting lists above
    the PER-K stop-shingle cap drop BEFORE pair generation: k=2 caps
    at max_df=1000 (bigrams go stopword-like at far lower df — the r5
    flat 10k cap left Σ df² ≈ 1e9 bigram pair mass on the 8× dup-mass
    fixture and OOM'd an 8 GB heap; r6 probe-caught), k∈{3,5} keep
    max_df=10000, which preserves the k=3 reconciliation with
    `dedup_ngram_jaccard` exactly (pinned in tests). Integer
    cross-multiplied threshold (`dedup_threshold_curve` discipline).

    The no-cache shape depends on `spark.sql.exchangeReuseEnabled`
    (default true): with reuse OFF the four consumers would recompute
    the scan + word split + distinct 4×. The runtime pin
    (tests/test_plans.py::test_shingle_size_curve_runtime_exchange_reuse)
    asserts the conf AND the executed-plan reuse, so a foreign session
    that disables it fails loudly instead of silently 4×-scanning."""
    from ..functions.text import words as _words

    w = table(spark, sf_dir, "documents").select(
        "doc_id", _words(F.col("text")).alias("ws")
    )
    ks = spark.createDataFrame([(2,), (3,), (5,)], "k int")
    wk = w.crossJoin(F.broadcast(ks))
    sh = (
        wk.select(
            "k",
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size("ws") - F.col("k") + 1, F.lit(0)),
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i, F.col("k")), " "
                    ),
                )
            ).alias("shingle"),
        )
        .distinct()
        # NO cache: the shingle set is corpus-sized, and checkpoint
        # blocks are non-evictable AND non-recomputable — the r10 32x
        # unique-text probe crashed exactly here
        # (UNABLE_TO_ACQUIRE_MEMORY) when the pinned localCheckpoint
        # starved execution memory. Measured at sf0.1 the cache bought
        # nothing (base 9.08 s cached vs 8.93 s uncached; the
        # distinct's shuffle dominates and its exchange feeds all four
        # consumers), and an evictable persist(MEMORY_AND_DISK) was
        # strictly slower (12.2 s). Recompute-from-scan is the shape
        # that holds at 100 TB.
    )
    sz = sh.groupBy("k", "doc_id").agg(F.count(F.lit(1)).alias("n"))
    # PER-K max_df stop-shingle cap (the `shingle_pair_counts` rule,
    # tightened for bigrams): pair mass per posting list is df², so the
    # cap is the only bound on join mass — k=2 lists at the r5 flat 10k
    # cap carried ~1e9 pairs on the 8× dup-mass fixture (OOM @ 8g,
    # r6 probe-caught); 1000 bounds any one list at 5e5 pairs while
    # k=3/5 keep 10k so the k=3 curve still reconciles with
    # dedup_ngram_jaccard
    df_ok = (
        sh.groupBy("k", "shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            F.col("df")
            <= F.when(F.col("k") == 2, F.lit(1000)).otherwise(F.lit(10000))
        )
        .select("k", "shingle")
    )
    shc = sh.join(df_ok, ["k", "shingle"])
    a = shc.select("k", F.col("doc_id").alias("id1"), "shingle")
    b = shc.select("k", F.col("doc_id").alias("id2"), "shingle")
    inter = (
        a.join(b, ["k", "shingle"])
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("k", "id1", "id2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    x = sz.select("k", F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    y = sz.select("k", F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    scored = inter.join(x, ["k", "id1"]).join(y, ["k", "id2"])
    qual = F.col("c") * 10 >= 3 * (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        scored.groupBy(F.col("k").cast("int").alias("shingle_k"))
        .agg(
            F.count_if(qual).cast("bigint").alias("n_pairs_j30"),
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        )
        .orderBy("shingle_k")
    )


# --- semantic dedup (cluster-blocked embedding dedup) ------------------------
@register("dedup_semantic_cluster")  # rows-only: cluster assignment is
# engine-specific; the no-false-positives + recall contracts are in tests
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (public recipe: Abbas et
    al. 2023, 'SemDeDup'): k-means-cluster the embeddings, compare
    pairs ONLY within a cluster, and drop every vector that has a
    higher-id duplicate above the cosine threshold — one representative
    (the lowest id) survives per duplicate set.

    This is the scale story `dedup_embedding_cosine` (brute-force
    blocked GEMM) defers to: clustering turns the O(N²) pair space into
    per-cell blocks, so the candidate join is an equi-join on the cell
    id, and at 100 TB the vector table is written PARTITIONED BY cell
    so each block dedups inside its own partition. Reuses the
    distributed Lloyd trainer and literal-codebook assignment from
    `operators.ann` (zero-Exchange argmin). Exact in-cell cosine verify
    means NO false positives by construction; cross-cell pairs are the
    recall cost, mitigated by 2-nearest-cell SOFT assignment and pinned
    in tests (0.86/0.79 blocking recall at sf0.01/sf0.1 at the loose
    fixture threshold of 0.45; production near-dups at 0.95+ land in
    the same nearest cells essentially always)."""
    from ..catalog import table as _table
    from ..functions.similarity import as_double, cosine
    from .ann import ivf_assign, train_ivf_codebook

    THRESH, K, ITERS = 0.45, 8, 3
    e = (
        _table(spark, sf_dir, "embeddings")
        # NULL embeddings are un-clusterable and crashed the Lloyd seed
        # collect (r8 nullmix sweep)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", as_double("embedding").alias("emb"))
    )
    from .ann import _nearest_cells

    codebook = train_ivf_codebook(e, K, ITERS)
    if not codebook:
        # empty corpus: nothing to cluster (r7 edge sweep — an empty
        # codebook literal breaks the assignment HOFs downstream)
        return spark.createDataFrame(
            [],
            "cell int, n_vectors bigint, n_candidate_pairs bigint, n_dropped bigint",
        )
    # SOFT assignment: each vector indexes under its 2 nearest cells, so a
    # pair straddling a cell boundary is still blocked together whenever
    # their cell sets overlap (the standard soft-clustering recall fix —
    # measured 0.5 -> 0.86 blocking recall at sf0.01 for 2x index rows)
    home = ivf_assign(e, codebook).select("vec_id", F.col("cell").alias("home"))
    # unit-normalize ONCE per vector (norm hoisted so the division
    # doesn't re-run the fold), then verify pairs with ONE numpy GEMM per
    # cell via applyInPandas — the O(pairs) hot path in interpreted HOF
    # dot folds costs 8s at sf0.1; the Arrow-batched BLAS product costs
    # well under a second. Per-cell group size is bounded by codebook
    # sizing (SemDeDup uses ~100k clusters at corpus scale), which is
    # what makes the grouped GEMM admissible.
    from ..functions.similarity import l2_norm

    soft = (
        e.withColumn("_nrm", l2_norm(F.col("emb")))
        .select(
            "vec_id",
            F.transform("emb", lambda x: x / F.col("_nrm")).alias("u"),
            F.explode(
                F.transform(
                    _nearest_cells(F.col("emb"), codebook, 2), lambda s: s.cell
                )
            ).alias("cell"),
        )
        .localCheckpoint()
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["u"].to_numpy())
        sims = np.round(X @ X.T, 4)
        i, j = np.triu_indices(len(ids), k=1)  # sorted ids => id1 < id2
        m = sims[i, j] >= THRESH
        return pd.DataFrame(
            {"id1": ids[i[m]], "id2": ids[j[m]], "cos_sim": sims[i, j][m]}
        )

    pairs = (
        soft.groupBy("cell")
        .applyInPandas(cell_pairs, "id1 long, id2 long, cos_sim double")
        .distinct()  # a pair sharing BOTH cells must count once
    )
    # a vector is dropped iff it is the HIGHER id of any blocked dup pair;
    # report under its HOME cell
    dropped = (
        pairs.join(home.withColumnRenamed("vec_id", "id2"), "id2")
        .groupBy(F.col("home").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_candidate_pairs"),
            F.countDistinct("id2").alias("n_dropped"),
        )
    )
    sizes = home.groupBy(F.col("home").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    return (
        sizes.join(dropped, "cell", "left")
        .select(
            "cell",
            "n_vectors",
            F.coalesce("n_candidate_pairs", F.lit(0)).alias("n_candidate_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
        .orderBy("cell")
    )


# --- exact repeated-substring spans (suffix-array-style dedup) ---------------
@register(
    "dedup_substring_spans",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents
    ),
    sh AS (
      SELECT doc_id, i AS pos, array_to_string(ws[i:i+9], ' ') AS gram
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 9, 0))) AS t(i)
    ),
    ok AS (  -- hot-gram cap: drop grams occurring > 50 times corpus-wide
      SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) <= 50
    ),
    seeds AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pos1, b.pos AS pos2,
             a.pos - b.pos AS diag
      FROM sh a JOIN ok USING (gram) JOIN sh b USING (gram)
      WHERE a.doc_id < b.doc_id
    ),
    flagged AS (
      SELECT id1, id2, diag, pos1, pos2,
             CASE WHEN pos1 - LAG(pos1) OVER
                    (PARTITION BY id1, id2, diag ORDER BY pos1) = 1
                  THEN 0 ELSE 1 END AS new_run
      FROM seeds
    ),
    runs AS (
      SELECT id1, id2, diag, pos1, pos2,
             SUM(new_run) OVER
               (PARTITION BY id1, id2, diag ORDER BY pos1) AS run_id
      FROM flagged
    )
    SELECT id1, id2,
           CAST(MIN(pos1) AS BIGINT) AS start1,
           CAST(MIN(pos2) AS BIGINT) AS start2,
           CAST(COUNT(*) + 9 AS BIGINT) AS span_tokens
    FROM runs GROUP BY id1, id2, diag, run_id
    HAVING COUNT(*) + 9 >= 15
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection — the practical Spark form of
    suffix-array substring dedup (public recipe: Lee et al. 2021,
    'Deduplicating Training Data Makes Language Models Better', which
    removes verbatim repeated spans, not just near-dup documents):
    position-indexed 10-token grams seed matches, and maximal shared
    spans fall out of merging CONSECUTIVE seeds along each (id1, id2,
    pos1−pos2) DIAGONAL — two docs sharing an m-token run produce
    m−9 seeds on one diagonal, merged here into a single span row
    (start1, start2, span_tokens ≥ 15).

    Scale shape: same inverted-index discipline as
    `dedup_ngram_jaccard` — ONE gram-keyed shuffle builds the posting
    lists, a corpus-wide hot-gram cap (> 50 occurrences dropped, the
    max_df guard) bounds in-bucket pair generation, and the run merge
    is a (pair, diagonal)-partitioned window, never a global sort. A
    true suffix array finds arbitrary-length repeats; the gram seeding
    finds every repeat ≥ the gram length with exact span extents, which
    is what the 50-token-span production filter actually consumes."""
    from pyspark.sql import Window

    from ..catalog import table as _table

    L, MAX_DF, MIN_TOK = 10, 50, 15
    d = _table(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size("ws") - (L - 1), F.lit(0))
                    ),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(" ", F.slice("ws", i, L)).alias("gram"),
                    ),
                )
            ).alias("x"),
        )
        .select("doc_id", "x.pos", "x.gram")
    )
    ok = sh.groupBy("gram").count().filter(F.col("count") <= MAX_DF).select("gram")
    sh = sh.join(ok, "gram")
    a = sh.select(
        "gram", F.col("doc_id").alias("id1"), F.col("pos").alias("pos1")
    )
    b = sh.select(
        "gram", F.col("doc_id").alias("id2"), F.col("pos").alias("pos2")
    )
    seeds = (
        a.join(b, "gram")
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2", "pos1", "pos2", (F.col("pos1") - F.col("pos2")).alias("diag")
        )
    )
    wd = Window.partitionBy("id1", "id2", "diag").orderBy("pos1")
    run_id = F.sum(
        F.when(F.col("pos1") - F.lag("pos1").over(wd) == 1, 0).otherwise(1)
    ).over(wd)
    return (
        seeds.withColumn("run_id", run_id)
        .groupBy("id1", "id2", "diag", "run_id")
        .agg(
            F.min("pos1").cast("bigint").alias("start1"),
            F.min("pos2").cast("bigint").alias("start2"),
            (F.count(F.lit(1)) + (L - 1)).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= MIN_TOK)
        .select("id1", "id2", "start1", "start2", "span_tokens")
    )


# --- duplication-degree histogram --------------------------------------------
@register(
    "dedup_degree_histogram",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2
      FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
      WHERE c * 1.0 / (x.n + y.n - c) >= 0.3
    ),
    deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT id1 AS doc_id FROM pairs
        UNION ALL SELECT id2 AS doc_id FROM pairs
      ) GROUP BY doc_id
    ),
    hist AS (
      SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs FROM deg GROUP BY degree
      UNION ALL
      SELECT CAST(0 AS BIGINT),
             (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(*) FROM deg)
    )
    SELECT degree, n_docs FROM hist WHERE n_docs > 0
    """,
)
def dedup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-degree histogram: how many near-dup partners
    (Jaccard ≥ 0.3, `dedup_ngram_jaccard`'s pair set) each document
    has, histogrammed — the 'how duplicated is my corpus' summary a
    curation report leads with (degree 0 = unique mass; a heavy tail
    means template/boilerplate clusters, the thing worth fixing at the
    SOURCE rather than filtering).

    Shape: runs on the ALREADY-REDUCED pair set (the capped inverted-
    index pipeline does the corpus-scale work), so this is two tiny
    aggs + a degree-0 complement row."""
    from ..catalog import table as _table
    from .dedup_extra import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id1", "id2")
    deg = (
        pairs.select(F.col("id1").alias("doc_id"))
        .unionAll(pairs.select(F.col("id2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    total = _table(spark, sf_dir, "documents").count()
    with_partners = deg.count()
    zero = spark.createDataFrame(
        [(0, total - with_partners)], "degree long, n_docs long"
    )
    return hist.unionByName(zero).filter(F.col("n_docs") > 0)
