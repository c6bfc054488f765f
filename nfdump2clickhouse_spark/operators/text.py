"""Text and corpus operators for training-data pipelines.

Quality scoring and filtering, language ID, n-gram statistics
(``text_*``), tokenizer training and application (``tokenizer_*``),
chunking and sequence packing (``doc_*``, ``pack_*``), corpus reports,
curation and curriculum binning, and multimodal binary columns
(``mm_*``).

Most keys are built-in Column expressions (split / HOFs / regexp) that
run inside whole-stage codegen. The multimodal decode step is STUBBED
(no image/audio libraries): ``mm_decode_stub`` produces deterministic
fake features; the Spark-side plumbing is real.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions.similarity import as_double, l2_norm
from ..functions.text import (
    avg_word_len,
    positional_fingerprint,
    shingles,
    stopword_count,
    STOPWORDS,
    words,
)
from ..registry import register


@register(
    "pack_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM t
    )
    SELECT CAST(FLOOR(st / 2048.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY 1
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents, in canonical
    doc_id order, to fixed token-budget bins (budget 2048; a bin may
    overrun by at most its last doc — contiguous greedy packing, the
    standard pre-tokenization batching pass).

    The primitive is a GLOBAL exclusive prefix sum, and the naive
    formulation — a window with ORDER BY and no PARTITION BY — funnels
    the whole corpus through one task, the classic 100 TB deadlock.
    r11 (guide §1.2/§2.4): the ``prefix_sums`` mechanism ran four
    serial driver jobs (localCheckpoint, boundary sample, subtotal
    collect, final); the two-phase scan is now fully IN-PLAN — range
    ids are equi-width-bin literals over the doc_id [min,max] read from
    the parquet footers (driver metadata, no job; stats-less files fall
    back to one min/max aggregation over just the doc_id column), the
    per-bin start offsets come from a bounded nbins-row window +
    broadcast join (allowlisted unpartitioned window: one row per bin,
    bins scale with the cluster, never the data), and the binning
    exchange is shared by the offsets arm and the in-bin window, so
    tokenization runs ONCE and the whole pack is one executed job.
    Monotone bin ids preserve the doc_id global order exactly; bin
    balance only affects parallelism, never the prefix values, so the
    result stays independent of the physical split."""
    from ..catalog import parquet_column_stats
    from ..functions.text import words

    budget = 2048
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(words(F.col("text"))).alias("n_tok")
    )
    stats = parquet_column_stats(sf_dir, "documents", "doc_id")
    if stats is None:
        row = (
            table(spark, sf_dir, "documents")
            .agg(F.min("doc_id"), F.max("doc_id"))
            .collect()[0]
        )
        lo, hi = row[0], row[1]
    else:
        lo, hi = stats[0], stats[1]
    nbins = max(spark.sparkContext.defaultParallelism, 2) * 8
    if lo is None or hi is None or hi == lo:
        pid = F.lit(0)
    else:
        width = (float(hi) - float(lo)) / nbins
        # NULL doc_id sorts first (Spark ASC NULLS FIRST) → bin 0
        pid = F.when(F.col("doc_id").isNull(), 0).otherwise(
            F.least(
                F.floor((F.col("doc_id").cast("double") - float(lo)) / width),
                F.lit(nbins - 1),
            )
        ).cast("int")
    sp = d.withColumn("_pid", pid).repartition("_pid")
    # one window pass yields BOTH the in-bin exclusive prefix and the
    # bin total (full-frame second spec, same sort, no new exchange);
    # the tiny offsets arm then branches ABOVE the window, so its
    # pruned copy shares the binning exchange byte-for-byte with the
    # main arm (ReusedExchange at runtime — tokenization runs once)
    w_run = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # the bin-total frame carries the SAME orderBy as the running frame
    # (value-identical: the frame is unbounded) so both arms demand the
    # same columns below the exchange — required for the reuse match
    w_bin = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wout = sp.select(
        "doc_id",
        "n_tok",
        "_pid",
        F.coalesce(F.sum("n_tok").over(w_run), F.lit(0)).alias("lc"),
        F.coalesce(F.sum("n_tok").over(w_bin), F.lit(0)).alias("bt"),
    )
    offw = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        wout.select("_pid", "bt")
        .distinct()
        .select("_pid", F.coalesce(F.sum("bt").over(offw), F.lit(0)).alias("off"))
    )
    p = wout.join(F.broadcast(offs), "_pid").withColumn(
        "_ps_n_tok", (F.col("off") + F.col("lc")).cast("bigint")
    )
    return (
        p.withColumn("bin_id", F.floor(F.col("_ps_n_tok") / budget))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- shingle containment (asymmetric near-dup) -------------------------------
@register(
    "text_containment",
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
    SELECT id1, id2,
           ROUND(GREATEST(c * 1.0 / x.n, c * 1.0 / y.n), 4) AS containment
    FROM inter JOIN sz x ON id1 = x.doc_id JOIN sz y ON id2 = y.doc_id
    WHERE GREATEST(c * 1.0 / x.n, c * 1.0 / y.n) >= 0.7
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment max(|A∩B|/|A|, |A∩B|/|B|)
    ≥ 0.7 — catches a document EMBEDDED in a larger one (quote, concat,
    crawl wrapper), which resemblance (Jaccard) dilutes below any usable
    threshold; it is the measure decontamination actually needs
    (benchmark items quoted inside training pages). Reuses the capped
    inverted-shingle-index pair machinery of dedup_ngram_jaccard — same
    two bounded shuffles, different final normalization."""
    from .dedup_extra import shingle_pair_counts

    inter = shingle_pair_counts(spark, sf_dir)
    cont = F.greatest(
        F.col("c") / F.col("n1"), F.col("c") / F.col("n2")
    )
    return inter.filter(cont >= 0.7).select(
        "id1", "id2", F.round(cont, 4).alias("containment")
    )


# --- char-ngram language model scoring ---------------------------------------
@register(
    "text_ngram_lm",
    oracle="""
    WITH bg AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 2) AS b
      FROM documents,
           LATERAL (SELECT unnest(range(1, greatest(length(text), 1))) AS i) t
      WHERE length(text) >= 2
    ),
    model AS (
      SELECT b, ln(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER ()) AS logp
      FROM bg GROUP BY b
    )
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(model.logp), 4) AS avg_logp
    FROM bg JOIN model ON bg.b = model.b
    GROUP BY bg.doc_id
    """,
)
def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language-model scoring: train unigram-of-bigrams
    probabilities on the corpus itself, then score each document by mean
    log-probability — the KenLM-style fluency/quality signal used to
    filter machine-generated or garbled text from training data
    (low avg_logp = improbable character sequences).

    Pipeline: row-local bigram explode (sequence+substr HOF, no UDF) →
    one aggregation keyed on the bigram (char-bigram vocab is bounded by
    charset², so the model table stays small and AQE broadcasts the
    score join) → per-doc mean. For word-level n-gram LMs the identical
    plan holds except the model join stays a shuffle join keyed on the
    n-gram — still two bounded shuffles at 100 TB."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.col("text").substr(i, F.lit(2)),
            )
        ).alias("b"),
    )
    w_all = Window.partitionBy()
    model = (
        bg.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("b", F.log(F.col("cnt") / F.sum("cnt").over(w_all)).alias("logp"))
    )
    return (
        bg.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
        )
    )


# --- end-to-end curation manifest --------------------------------------------
@register(
    "curation_manifest_e2e",
    oracle="""
    WITH j AS (
      SELECT d.doc_id, d.lang, d.source, d.text,
             len(list_filter(string_split(d.text, ' '), w -> w <> ''))
               AS tokens,
             sqrt(list_aggregate(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE) *
                                               CAST(x AS DOUBLE)), 'sum'))
               AS nrm
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      WHERE d.n_chars BETWEEN 50 AND 10000
    ),
    q AS (SELECT * FROM j WHERE tokens >= 10),
    dd AS (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM q
    )
    SELECT doc_id, lang, source, tokens,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 20 < 1 THEN 'test'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 20 < 3 THEN 'valid'
                ELSE 'train' END AS split,
           ROUND(nrm, 4) AS l2
    FROM dd WHERE rn = 1
    """,
)
def curation_manifest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-manifest assembly — the composition every
    curation run executes: join text with its embedding, length/token
    quality gate, exact-dup removal by content fingerprint (keep lowest
    doc_id), deterministic hash-bucket split assignment (85/10/5,
    backfill-stable), embedding L2 norm carried for downstream filters.

    Scale shape: the doc⋈embedding join is keyed on the id both tables
    are naturally bucketed by; the fingerprint dedup is ONE hash shuffle
    keyed on md5(text) (pre-hashed, so wide text never rides the
    shuffle twice); split/norm are row-local. Three bounded shuffles
    total at any corpus size."""
    d = table(spark, sf_dir, "documents").filter(
        F.col("n_chars").between(50, 10_000)
    )
    e = table(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(words(F.col("text"))).alias("tokens"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    # r11 (guide §2.3 — shuffle keys, not payloads): hash the text to its
    # 32-byte fingerprint BEFORE the dedup shuffle and drop the text
    # column; nothing downstream reads it, so the window's exchange
    # carries fingerprints instead of whole documents
    q = j.filter(F.col("tokens") >= 10).select(
        "doc_id", "lang", "source", "tokens", "nrm", F.md5("text").alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    dd = q.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 20
    )
    return dd.select(
        "doc_id",
        "lang",
        "source",
        "tokens",
        F.when(bucket < 1, "test")
        .when(bucket < 3, "valid")
        .otherwise("train")
        .alias("split"),
        F.round("nrm", 4).alias("l2"),
    )


# --- vocabulary building -----------------------------------------------------
@register(
    "text_vocab_topk",
    oracle="""
    SELECT w AS word, COUNT(*) AS freq
    FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    )
    GROUP BY w ORDER BY freq DESC, w LIMIT 200
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 whitespace tokens by frequency — the
    first pass of every tokenizer-training run (BPE starts from exactly
    this table, then iterates merges; word-piece coverage reports read
    it directly).

    Shape: token explode is scan-local, ONE token-keyed partial+final
    agg (map-side combine collapses each partition's Zipf head before
    the shuffle), then `TakeOrderedAndProject` for the top-k — no global
    sort. At 100 TB the only heavy object is the distinct-token table,
    which stays sharded; nothing is broadcast or collected."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(200)
    )


# --- curriculum binning ------------------------------------------------------
@register(
    "curriculum_binning",
    oracle="""
    WITH b AS (
      SELECT doc_id, n_chars,
             ntile(4) OVER (ORDER BY n_chars, doc_id) AS phase
      FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT phase, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM b GROUP BY phase
    """,
)
def curriculum_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phases: rank the corpus by a difficulty proxy (doc
    length here; swap in any quality/perplexity score) and cut it into 4
    equal-count phases — easy-to-hard ordering for staged training.

    ntile needs a total order, and the naive unpartitioned window is the
    single-task-sort anti-pattern (VERDICT r2 next-#3, closed): the
    engine computes the EXACT same tiles with
    ``functions.distributed.binned_exact_ntile`` — the in-plan binned
    global rank plus the closed-form ntile arithmetic (r12, VERDICT
    r11 next-#4: the sampler machinery ran a repartitionByRange sample
    + localCheckpoint + count collect before the real job; the binned
    scan is ONE executed job with bin-id literals from the parquet-
    footer [min,max] of n_chars and n riding the bounded nbins-row
    offsets broadcast) — so no task ever sorts more than its bin.
    Approx-quantile range cuts remain the still-cheaper swap when
    exact equal counts aren't required. The unique (score, doc_id)
    tiebreak makes both engines' tiles identical. A NULL difficulty
    score cannot be ranked — pinned out two-sided (Spark and DuckDB
    sort NULLs to opposite ends, which would shift every tile
    boundary; EDGE_SWEEP_r10 class D)."""
    from ..catalog import parquet_column_stats
    from ..functions.distributed import binned_exact_ntile

    d = table(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    stats = parquet_column_stats(sf_dir, "documents", "n_chars")
    lo = hi = None  # stats-less footer: in-plan broadcast bounds
    if stats is not None and stats[0] is not None and stats[1] is not None:
        lo, hi = stats[0], stats[1]
    b = binned_exact_ntile(
        d.select("doc_id", "n_chars"), 4, "n_chars", ["doc_id"], "phase",
        lo, hi,
    )
    return b.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- repetition filtering (Gopher rule family) -------------------------------
@register(
    "text_repetition_filter",
    oracle="""
    WITH w AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_chars, len(ws) AS n_words,
             ws[i] || ' ' || ws[i+1] AS bg
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
    ),
    r AS (
      SELECT doc_id, n_chars, n_words,
             COUNT(*) AS n_bigrams,
             COUNT(DISTINCT bg) AS n_distinct
      FROM g GROUP BY doc_id, n_chars, n_words
    )
    SELECT doc_id, n_words,
           ROUND((n_bigrams - n_distinct) * 1.0 / n_bigrams, 4) AS dup_frac,
           (n_bigrams - n_distinct) * 1.0 / n_bigrams > 0.2 AS is_repetitive
    FROM r WHERE n_bigrams > 0
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring — the Gopher/RefinedWeb rule
    the quality family was missing: the fraction of duplicate word
    bigrams inside each doc (boilerplate, keyword stuffing, and
    generation loops all spike it; `text_quality_score` sees none of
    them because its signals are length/charset shaped). Docs above 20%
    duplicate bigrams get the `is_repetitive` flag the filter pipeline
    consumes.

    Entirely row-local: the bigram multiset and its distinct count are
    array HOFs on the already-split word array — no explode, no
    shuffle, one codegen'd scan at any corpus size (contrast
    `dedup_ngram_jaccard`, which must shuffle because its duplicates
    are ACROSS documents)."""
    d = table(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = d.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct"),
    ).filter(F.col("n_bigrams") > 0)
    dup = (F.col("n_bigrams") - F.col("n_distinct")) / F.col("n_bigrams")
    return base.select(
        "doc_id",
        "n_words",
        F.round(dup, 4).alias("dup_frac"),
        (dup > 0.2).alias("is_repetitive"),
    )


# --- dataset-card report -----------------------------------------------------
@register(
    "corpus_report_e2e",
    oracle="""
    WITH t AS (
      SELECT source, lang, n_chars,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS tokens,
             md5(text) AS fp
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups
    FROM t GROUP BY source
    """,
)
def corpus_report_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics per source: doc and token counts, length,
    language spread, and exact-duplicate counts — the summary table
    every corpus release ships (and the first thing reviewed before a
    training run).

    ONE scan: tokens and fingerprints are row-local, then a single
    source-keyed partial+final agg; the distinct-counts ride the same
    Expand as `data_profile`. At 100 TB this is deliberately NOT a
    composition of the other keys re-run per metric — the report costs
    one pass, which is the difference between a dataset card that gets
    generated per release and one that doesn't."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        "lang",
        "n_chars",
        F.size(words(F.col("text"))).alias("tokens"),
        F.md5("text").alias("fp"),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
    )


_CHUNK = 8  # words per pseudo-line (fixture text has no sentence marks)


@register(
    "text_line_dedup",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(ws[(i * {_CHUNK} + 1):((i + 1) * {_CHUNK})], ' ')
               AS chunk
      FROM w, UNNEST(generate_series(0,
               greatest(CAST(ceil(len(ws) * 1.0 / {_CHUNK}) AS BIGINT) - 1, 0)))
             AS t(i)
      WHERE len(ws) > 0
    ),
    ranked AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(count_if(rn = 1) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                          ORDER BY pos), '')) AS kept_fp
    FROM ranked GROUP BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style GLOBAL line deduplication: every repeated line across
    the whole corpus is kept only at its first occurrence (ordered by
    (doc_id, pos)) and removed everywhere else — the op that strips
    boilerplate headers/footers repeated across millions of pages,
    which doc-level dedup never sees. Fixture text has no sentence
    marks, so 'lines' are fixed 8-word chunks; the pipeline is
    line-splitter-agnostic.

    Scale shape — exactly C4's: explode to (chunk, doc, pos), ONE hash
    shuffle keyed on the chunk (window row_number picks the canonical
    first copy; at petabyte scale the same dedup is a min-aggregate +
    semi-join on the chunk hash, same single shuffle), then a per-doc
    regroup to reassemble survivors in order. Output per doc: chunk
    counts and the md5 of the re-joined surviving text (compact,
    hash-checkable)."""
    d = table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.size(F.col("ws")) / F.lit(_CHUNK)).cast("bigint")
    chunks = (
        d.select("doc_id", words(F.col("text")).alias("ws"))
        .filter(F.size("ws") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("ws"), i * _CHUNK + 1, _CHUNK), " "
                    ),
                )
            ).alias("pos", "chunk"),
        )
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(F.col("rn") == 1).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1, F.struct("pos", "chunk")
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("kept_fp"),
    )


# --- BPE merge computation ---------------------------------------------------
def bpe_reference(word_freqs: dict[str, int], n_merges: int) -> list[tuple]:
    """Pure-Python BPE (Sennrich et al.'s algorithm) used by the contract
    test: returns [(rank, 'a b', freq)] with the same deterministic
    lexicographic tiebreak as the distributed version."""
    vocab = {tuple(wd): f for wd, f in word_freqs.items()}
    merges = []
    for rank in range(n_merges):
        pairs: dict[tuple, int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + f
                )
        if not pairs:
            break
        # deterministic: highest freq, then lexicographically SMALLEST pair
        top_f = max(pairs.values())
        best = min(p for p, f in pairs.items() if f == top_f)
        merges.append((rank, " ".join(best), top_f))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def learn_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = 5
) -> list[tuple[int, str, int]]:
    """Learn the first ``n_merges`` BPE merge rules over the corpus;
    returns ``[(rank, "a b", freq), ...]``. Shared by
    `tokenizer_bpe_merges` (the training surface) and wave15's
    `tokenizer_bpe_apply` (the encoding surface)."""
    from pyspark.sql.functions import pandas_udf

    d = table(spark, sf_dir, "documents")
    word_freq = (
        d.select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # symbol arrays: one char per symbol to start (Spark's regex split
    # emits a trailing empty string — drop it or it becomes a symbol)
    vocab = word_freq.select(
        F.filter(F.split("w", "(?!^)"), lambda x: x != "").alias("syms"), "f"
    ).localCheckpoint()

    merges = []
    for rank in range(n_merges):
        pairs = (
            vocab.select(
                "f",
                F.explode(
                    F.zip_with(
                        F.slice(
                            "syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))
                        ),
                        F.slice(
                            "syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))
                        ),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("f").alias("pf"))
        )
        top = pairs.orderBy(F.desc("pf"), "pair").limit(1).collect()
        if not top:
            break
        pair, pf = top[0].pair, int(top[0].pf)
        merges.append((rank, pair, pf))
        a, b = pair.split(" ")

        @pandas_udf("array<string>")
        def apply_merge(s: pd.Series) -> pd.Series:
            def m(syms):
                out, i = [], 0
                n = len(syms)
                while i < n:
                    if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                return out

            return s.apply(m)

        vocab = vocab.select(
            apply_merge("syms").alias("syms"), "f"
        ).localCheckpoint()

    return merges


@register("tokenizer_bpe_merges")  # rows-only: iterative algorithm; pinned
# against the pure-Python reference implementation in tests
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the distributed formulation: learn the
    first 5 merge rules over the corpus (Sennrich-style byte-pair
    encoding on the word-frequency table) — `text_vocab_topk` is pass
    0 of tokenizer training; this is the iterative core.

    Per iteration: adjacent-symbol-pair counts are ONE weighted agg
    over the (distinct-word, freq) table — corpus size only matters in
    the initial word count, every iteration is O(|vocab|); the argmax
    merge rule (deterministic freq-then-lexicographic tiebreak) is a
    1-row collect; applying the merge is a vectorized pandas UDF over
    the symbol arrays. This is the real tokenizer-training dataflow
    (HF tokenizers does the same loop in Rust over one machine's RAM;
    the Spark shape is what works when the word table doesn't fit)."""
    merges = learn_bpe_merges(spark, sf_dir, n_merges=5)
    return spark.createDataFrame(merges, "rank int, pair string, freq long")


_SW_SQL = "['" + "','".join(STOPWORDS) + "']"


@register(
    "text_quality_score",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, n_chars,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    )
    SELECT doc_id,
           len(ws)                                          AS n_words,
           len(list_distinct(ws))                           AS n_distinct,
           ROUND(list_aggregate(list_transform(ws, x -> CAST(length(x) AS DOUBLE)),
                                'sum') / len(ws), 4)        AS avg_wlen,
           ROUND(len(list_filter(ws, x -> list_contains({_SW_SQL}, x)))
                 * 1.0 / len(ws), 4)                        AS stopword_ratio,
           ROUND(len(list_distinct(ws)) * 1.0 / len(ws), 4) AS ttr
    FROM w WHERE len(ws) > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality features: length, vocabulary richness
    (type-token ratio), stopword density — the standard pre-training
    filter inputs (C4/Gopher-style rules)."""
    d = table(spark, sf_dir, "documents").withColumn("ws", words(F.col("text")))
    d = d.filter(F.size("ws") > 0)
    return d.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct"),
        F.round(avg_word_len(F.col("ws")), 4).alias("avg_wlen"),
        F.round(stopword_count(F.col("ws")) / F.size("ws"), 4).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct("ws")) / F.size("ws"), 4).alias("ttr"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+'))              AS re_tokens,
           length(text)                                            AS n_chars_exact
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex pass —
    the budget metric of every training-data pipeline."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(words(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("re_tokens"),
        F.length("text").alias("n_chars_exact"),
    )


@register(
    "text_langid",
    # Data-driven n-gram-style heuristic: profile = top-5 most frequent
    # words per language over the corpus (ties → word asc); a doc's
    # predicted language is the profile with the largest distinct-word
    # overlap (ties → lang asc). Deterministic, so fully SQL-expressible.
    oracle="""
    WITH tokens AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
    ), freq AS (
      SELECT lang, word, COUNT(*) AS c FROM tokens WHERE word <> ''
      GROUP BY lang, word
    ), profile AS (
      SELECT lang AS plang, word FROM freq
      QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, word) <= 5
    ), doc_words AS (
      SELECT DISTINCT doc_id, word FROM tokens WHERE word <> ''
    ), overlap AS (
      SELECT d.doc_id, p.plang, COUNT(*) AS hits
      FROM doc_words d JOIN profile p ON d.word = p.word
      GROUP BY d.doc_id, p.plang
    )
    SELECT o.doc_id, o.plang AS pred_lang, o.hits
    FROM overlap o
    QUALIFY ROW_NUMBER() OVER
      (PARTITION BY o.doc_id ORDER BY o.hits DESC, o.plang) = 1
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by corpus-derived word profiles. The profile (5 langs ×
    5 words) broadcasts; classification is one hash join + top-1 window.
    (Fixture text is synthetic word soup, so accuracy is meaningless —
    the operator shape is what matters.)"""
    d = table(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    freq = tokens.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("lang").orderBy(F.col("c").desc(), "word")
    profile = (
        freq.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= 5)
        .select(F.col("lang").alias("plang"), "word")
    )
    doc_words = tokens.select("doc_id", "word").distinct()
    overlap = doc_words.join(F.broadcast(profile), "word").groupBy(
        "doc_id", "plang"
    ).agg(F.count(F.lit(1)).alias("hits"))
    wo = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "plang")
    return (
        overlap.withColumn("_rn", F.row_number().over(wo))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("plang").alias("pred_lang"), "hits")
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(list_aggregate(
             list_transform(range(1, len(ws) + 1),
               i -> i * (CAST(ascii(ws[i][1]) AS BIGINT) * 31
                         + CAST(length(ws[i]) AS BIGINT))),
             'sum') AS BIGINT) AS fingerprint
    FROM w WHERE len(ws) > 0
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional rolling fingerprint (pure int arithmetic, oracle-exact).
    Identical fingerprints ⇒ candidate exact dups at copy-paste scale."""
    d = table(spark, sf_dir, "documents").withColumn("ws", words(F.col("text")))
    d = d.filter(F.size("ws") > 0)
    return d.select("doc_id", positional_fingerprint(F.col("ws")).alias("fingerprint"))


@register(
    "text_quality_filter_e2e",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    q AS (
      SELECT lang, len(ws) AS n_words,
             len(list_distinct(ws)) * 1.0 / len(ws) AS ttr
      FROM w
      WHERE len(ws) BETWEEN 20 AND 90
        AND len(list_distinct(ws)) * 1.0 / len(ws) >= 0.5
        AND len(list_filter(ws, x -> list_contains({_SW_SQL}, x)))
            * 1.0 / len(ws) <= 0.6
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           floor(AVG(ttr) * 10000 + 0.5 + 1e-9) / 10000 AS avg_ttr
    FROM q GROUP BY lang
    """,
)
def text_quality_filter_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-filter pass of a curation pipeline, end-to-end:
    Gopher/C4-style rules (token-count bounds, type-token ratio floor,
    stopword-density ceiling) applied in one codegen'd scan, then
    surviving-corpus stats per language. One shuffle total (the final
    tiny groupBy) — the filter itself is embarrassingly parallel, which
    is exactly why rule-based filtering is the first pass at 100 TB.
    avg_ttr uses epsilon half-up rounding (ttr > 0): plain round() flips
    on summation-order ulp noise across engines."""
    d = table(spark, sf_dir, "documents").withColumn("ws", words(F.col("text")))
    ttr = F.size(F.array_distinct("ws")) / F.size("ws")
    sw_ratio = stopword_count(F.col("ws")) / F.size("ws")
    survivors = d.filter(
        F.size("ws").between(20, 90) & (ttr >= 0.5) & (sw_ratio <= 0.6)
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ws")).alias("total_tokens"),
        (F.floor(F.avg(ttr) * 10000 + 0.5 + 1e-9) / 10000).alias("avg_ttr"),
    )


@register("text_fingerprint_xx")  # rows-only: xxhash64 is Spark-specific
def text_fingerprint_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong 64-bit fingerprint: xxhash64 over the normalized token
    stream — collision-safe exact-dedup key at 100 TB (groupBy this
    instead of the full text: shuffle carries 8 bytes/doc, not the doc)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64(F.concat_ws(" ", words(F.col("text")))).alias("fp64"),
    )


@register(
    "text_pii_scrub",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@mail.example.com or call 555-' ||
             lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0') AS full_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text,
                '[a-z0-9.]+@[a-z][a-z.]+')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(full_text,
                '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(full_text,
                '[a-z0-9.]+@[a-z][a-z.]+', '<EMAIL>', 'g'),
                '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
    FROM p
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — a mandatory pass in any training-data pipeline:
    find-and-mask email addresses and phone-shaped tokens, reporting
    per-doc match counts for audit. The fixture corpus contains no PII,
    so a deterministic synthetic contact line (keyed off `doc_id`) is
    appended first; the scrub itself is the operator under test.

    Pure codegen'd Column ops — `regexp_count` + `regexp_replace`
    (global replace is Spark's default; the oracle needs the explicit
    'g' flag) — so the pass is embarrassingly parallel with zero
    shuffle: precisely the shape a 100 TB redaction sweep needs.
    Patterns stay in the POSIX-simple intersection of Java regex and
    RE2 (SURVEY §5.3.5)."""
    d = table(spark, sf_dir, "documents")
    email = r"[a-z0-9.]+@[a-z][a-z.]+"
    phone = r"[0-9]{3}-[0-9]{4}"
    full = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") * 7919 % 10000).cast("string"), 4, "0"),
    )
    p = d.select("doc_id", full.alias("full_text"))
    return p.select(
        "doc_id",
        F.regexp_count("full_text", F.lit(email)).cast("long").alias("n_emails"),
        F.regexp_count("full_text", F.lit(phone)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("full_text", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH c AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS n FROM c GROUP BY doc_id, ch)
    SELECT doc_id,
           ROUND(LOG2(SUM(n)) - SUM(n * LOG2(n)) / SUM(n), 4) AS char_entropy
    FROM cnt GROUP BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    gibberish/boilerplate detector (mojibake and repeated-char spam sit
    far below natural-text entropy; random bytes far above). Same
    H = log2(N) − Σn·log2(n)/N two-level aggregation as agg_entropy;
    the explode is n_chars rows per doc but the first partial agg
    collapses them map-side to ≤ |alphabet| rows per doc before any
    shuffle."""
    d = table(spark, sf_dir, "documents")
    c = d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    cnt = c.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    n, logn = F.sum("n"), F.sum(F.col("n") * F.log2("n"))
    return cnt.groupBy("doc_id").agg(
        F.round(F.log2(n) - logn / n, 4).alias("char_entropy")
    )


@register(
    "text_tfidf",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tokens WHERE word <> ''
      GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf FROM scored
    QUALIFY ROW_NUMBER() OVER
      (PARTITION BY doc_id ORDER BY tfidf DESC, word) <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, pure-SQL formulation. The tf→df
    join is deliberately unhinted: at 100 TB the distinct-token table is
    billions of rows (a mandatory broadcast would OOM the executors —
    VERDICT r1 wrong-#2), and `tf` is already hash-partitioned on `word`
    from its aggregation, so AQE broadcasts when df is small and falls
    back to a co-partitioned shuffle join when it is not."""
    d = table(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = tokens.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # r11: tf rows are already distinct per (doc_id, word) — a plain
    # count equals the distinct count and skips the two-phase distinct
    # aggregation (one Expand+Exchange less in the plan)
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # driver-side scalar: parquet footer count, O(files)
    scored = tf.join(df, "word").select(
        "doc_id",
        "word",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "word", "tfidf")
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*)                                   AS n_docs,
           ROUND(AVG(n_chars), 4)                     AS avg_chars,
           MIN(n_chars)                               AS min_chars,
           MAX(n_chars)                               AS max_chars,
           COUNT(CASE WHEN n_chars >= 300 THEN 1 END) AS n_long
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang/source corpus stats — the 'what's in my training dump'
    dashboard query."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.when(F.col("n_chars") >= 300, 1)).alias("n_long"),
    )


def _with_blob(d: DataFrame) -> DataFrame:
    """documents.text → fake media blob + typed metadata struct."""
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.col("lang").alias("codec"),
            F.col("n_chars").cast("int").alias("n_bytes_meta"),
            (F.col("doc_id") % 4).cast("int").alias("channel"),
        ).alias("meta"),
    )


@register(
    "multimodal_binary",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           sha256(text)                     AS digest
    FROM documents
    """,
)
def multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType column + metadata struct, round-tripped through a
    partitioned parquet write (blob pointers at rest) and read back —
    digest proves byte-exactness end-to-end."""
    blobs = _with_blob(table(spark, sf_dir, "documents"))
    if blobs.isEmpty():
        # zero-partition writes cannot re-read (UNABLE_TO_INFER_SCHEMA,
        # r7 edge class 4; guard applied r9 per SURVEY §17.1) — the
        # cheap limit-1 probe skips the round-trip, schema-stable
        return spark.createDataFrame(
            [], "doc_id long, n_bytes bigint, digest string"
        )
    out = os.path.join(tempfile.mkdtemp(prefix="mm_blob_"), "blobs")
    blobs.withColumn("bucket", (F.col("doc_id") % 8).cast("int")).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "doc_id",
        F.octet_length("content").cast("bigint").alias("n_bytes"),
        F.sha2("content", 256).alias("digest"),
    )


@register("mm_decode_stub")  # rows-only: stubbed decode, Spark plumbing real
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 'decode' of binary media via mapInPandas (Arrow batches).

    Real decode would call PIL/libav here; this container has neither, so
    features are a deterministic fake derived from the bytes. Set
    real=True in `decode_batch` to see the guarded NotImplementedError.
    """

    def decode_batch(batches, real: bool = False):
        if real:
            raise NotImplementedError(
                "image/audio decode libraries are not available in this "
                "environment; wire PIL/torchaudio here on a real cluster"
            )
        import pandas as pd

        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # fake 'image' dims: deterministic functions of the blob
                    "width": content.map(lambda b: 16 + len(b) % 240),
                    "height": content.map(lambda b: 16 + (len(b) * 7) % 240),
                    "mean_byte": content.map(
                        lambda b: round(sum(b) / len(b), 4) if len(b) else 0.0
                    ),
                }
            )

    # NULL text → NULL blob: not decodable media — gated before the
    # Python worker (None crashes len()/sum(); EDGE_SWEEP_r10 class A)
    blobs = _with_blob(table(spark, sf_dir, "documents")).filter(
        F.col("content").isNotNull()
    )
    return blobs.mapInPandas(
        decode_batch, "doc_id long, width int, height int, mean_byte double"
    )


@register("mm_frame_sample")  # rows-only: binary slicing demo
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a fake 'video' blob: fixed 32-byte frames,
    keep every 4th — pure Column substring arithmetic on BinaryType (the
    shape of video-frame extraction without a decoder)."""
    blobs = _with_blob(table(spark, sf_dir, "documents"))
    frame_size, stride = 32, 4
    n_frames = F.floor(F.octet_length("content") / frame_size).cast("int")
    frames = blobs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(stride))
        ).alias("frame_no"),
        "content",
    )
    return frames.select(
        "doc_id",
        "frame_no",
        F.expr(f"substring(content, frame_no * {frame_size} + 1, {frame_size})").alias(
            "frame_bytes"
        ),
    )


@register(
    "mm_feature_extract",
    # Flat (doc_id, bin, frac) rows, not a 16-wide array — the driver
    # canonicalizer cannot sort list cells (VERDICT r1 wrong-#1); the UDF
    # still emits the vector, the plan explodes it at the end.
    oracle="""
    WITH b AS (
      SELECT doc_id,
             list_transform(string_split(text, ''), c -> ascii(c)) AS bytes
      FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS bin,
           ROUND(len(list_filter(bytes, x -> x // 16 = i)) * 1.0 / len(bytes), 4)
             AS frac
    FROM b, UNNEST(generate_series(0, 15)) AS t(i)
    WHERE len(bytes) > 0
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary media: a normalized 16-bin byte
    histogram per blob (the stand-in for an image/audio embedding — the
    real extractor swaps into the same UDF body). Arrow-batched pandas
    UDF over the BinaryType column: one numpy bincount per blob, the
    batch shape a GPU feature extractor needs. The oracle recomputes the
    histogram from first principles in SQL, so the hash check validates
    the whole binary → vector path, not just row counts. Zero shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def byte_hist(content: pd.Series) -> pd.Series:
        out = []
        for b in content:
            a = np.frombuffer(b, dtype=np.uint8)
            if len(a) == 0:
                out.append(None)
                continue
            h = np.bincount(a >> 4, minlength=16).astype(np.float64) / len(a)
            out.append(np.floor(h * 10000 + 0.5) / 10000)  # half-up, h ≥ 0
        return pd.Series(out)

    blobs = _with_blob(table(spark, sf_dir, "documents"))
    hist = blobs.filter(F.octet_length("content") > 0).select(
        "doc_id", byte_hist("content").alias("hist")
    )
    return hist.select("doc_id", F.posexplode("hist").alias("bin", "frac")).select(
        "doc_id", F.col("bin").cast("long").alias("bin"), "frac"
    )


@register("mm_resize_stub")  # rows-only: stubbed resample, Spark plumbing real
def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize plumbing: each blob is 'resampled' to a fixed 64-byte
    thumbnail by strided byte selection (a real resize would decode →
    interpolate → re-encode in this same mapInPandas body — the guarded
    NotImplementedError marks the swap point). Demonstrates the
    fixed-size-output contract GPU preprocessing needs: every output row
    carries exactly TARGET bytes regardless of input size."""
    TARGET = 64

    def resize_batch(batches, real: bool = False):
        if real:
            raise NotImplementedError(
                "image resize needs PIL/opencv; not available in this "
                "environment — wire the decoder here on a real cluster"
            )
        import numpy as np
        import pandas as pd

        for pdf in batches:
            thumbs, widths = [], []
            for b in pdf["content"]:
                a = np.frombuffer(b, dtype=np.uint8)
                if len(a) == 0:
                    thumbs.append(bytes(TARGET))
                else:
                    idx = (np.arange(TARGET) * len(a)) // TARGET
                    thumbs.append(a[idx].tobytes())
                widths.append(len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_bytes": widths,
                    "thumb": thumbs,
                }
            )

    # NULL blob gate, same contract as mm_decode_stub (class A)
    blobs = _with_blob(table(spark, sf_dir, "documents")).filter(
        F.col("content").isNotNull()
    )
    return blobs.mapInPandas(
        resize_batch, "doc_id long, orig_bytes int, thumb binary"
    )


@register(
    "text_decontaminate",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT doc_id, COUNT(*) AS n_shared
    FROM sh
    WHERE doc_id % 97 <> 0 AND shingle IN (SELECT shingle FROM bench)
    GROUP BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with a held-out benchmark set (docs with doc_id % 97 == 0
    stand in for the benchmark; real pipelines use 13-grams — the
    fixture's short docs make 3-grams the meaningful size).

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus, so it broadcasts; the train side streams through one scan +
    one partial-aggregated groupBy. The corpus is never self-joined and
    the benchmark is never exploded against it — contamination hits are
    bounded by |benchmark shingles| × df, not |corpus|²."""
    d = table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(shingles(words(F.col("text"))))).alias("shingle")
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "doc_chunking",
    oracle="""
    SELECT doc_id,
           CAST((s - 1) / 150 AS BIGINT)       AS chunk_id,
           s                                    AS start_char,
           length(substring(text, s, 200))      AS chunk_len,
           md5(substring(text, s, 200))         AS chunk_md5
    FROM documents, UNNEST(generate_series(1, greatest(n_chars, 1), 150)) AS t(s)
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (200-char windows, 150 stride →
    50-char overlap): the context-window prep step of every training/RAG
    pipeline, with stable chunk ids derived arithmetically from the
    start offset (no ordinality needed, so re-chunking is reproducible
    shard-by-shard). One `sequence` + `explode` per row — scan-local,
    zero shuffle; chunks are verified by md5 so the hash check proves
    byte-exact window placement, not just counts."""
    d = table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n_chars"), F.lit(1)).cast("int"), F.lit(150)
    )
    ch = d.select(
        "doc_id", "text", F.explode(starts).alias("s")
    ).withColumn("chunk", F.expr("substring(text, s, 200)"))
    return ch.select(
        "doc_id",
        ((F.col("s") - 1) / 150).cast("bigint").alias("chunk_id"),
        F.col("s").cast("bigint").alias("start_char"),
        F.length("chunk").cast("bigint").alias("chunk_len"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
    )


@register(
    "text_unicode_nfc",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type,
             substr(event_type, 1, 1)
               || CASE event_id % 3 WHEN 0 THEN chr(769)   -- combining acute
                                   WHEN 1 THEN chr(776)   -- combining diaeresis
                                   ELSE '' END
               || substr(event_type, 2) AS decorated
      FROM events
    ),
    n AS (
      SELECT event_type, event_id % 3 AS accent,
             length(decorated) AS len_before,
             length(nfc_normalize(decorated)) AS len_after
      FROM s
    )
    SELECT event_type, accent, COUNT(*) AS n,
           CAST(SUM(len_before) AS BIGINT) AS chars_before,
           CAST(SUM(len_after) AS BIGINT) AS chars_after,
           CAST(count_if(len_after < len_before) AS BIGINT) AS n_composed
    FROM n GROUP BY event_type, accent
    """,
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the preprocessing step every text
    dedup/fingerprint pipeline needs BEFORE hashing: 'é' as one
    codepoint and 'e'+combining-acute are byte-different but canonically
    equal, so un-normalized corpora leak duplicates past every
    hash-based method in the family. The fixture is ASCII, so canonical-
    equivalence pairs are synthesized by injecting combining marks
    (accent ∈ {acute, diaeresis, none} by event_id); normalization
    composes them and the per-(type, accent) audit counts the composed
    rows — DuckDB's native nfc_normalize is the cross-engine referee.

    Spark has no built-in NFC, so this is a justified Python case
    (unicodedata in an Arrow-batched pandas UDF — the §2.10 slow-path
    policy); at 100 TB normalization is one row-local pass fused into
    ingest, never a separate job."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x) if x else x)

    e = table(spark, sf_dir, "events")
    accent = F.col("event_id") % 3
    mark = (
        F.when(accent == 0, F.lit("́"))
        .when(accent == 1, F.lit("̈"))
        .otherwise(F.lit(""))
    )
    decorated = F.concat(
        F.substring("event_type", 1, 1), mark, F.expr("substring(event_type, 2)")
    )
    s = e.select(
        "event_type",
        accent.alias("accent"),
        F.length(decorated).alias("len_before"),
        F.length(nfc(decorated)).alias("len_after"),
    )
    return s.groupBy("event_type", "accent").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("len_before").alias("chars_before"),
        F.sum("len_after").alias("chars_after"),
        F.count_if(F.col("len_after") < F.col("len_before")).alias(
            "n_composed"
        ),
    )


_SEED_N = 300  # substring-seed vocabulary size (top by weighted freq)
_MAX_PIECE = 4
_EM_ITERS = 3
_TOP_OUT = 50


def _viterbi(word: str, logp: dict[str, float]) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: maximize
    Σ logp, tie-break by FEWER pieces then lexicographic piece
    sequence. Single characters are always in the vocabulary, so every
    word segments. Shared by the engine's E-step executors and
    (deliberately) NOT by the test's reference implementation, which
    re-derives segmentation independently."""
    n = len(word)
    # dp[i] = (score, -n_pieces, seq_tuple) best for word[:i]
    NEG = float("-inf")
    dp: list[tuple] = [(NEG, 0, ())] * (n + 1)
    dp[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        best = (NEG, 0, ())
        for l in range(1, min(_MAX_PIECE, i) + 1):
            piece = word[i - l : i]
            lp = logp.get(piece)
            if lp is None or dp[i - l][0] == NEG:
                continue
            cand = (
                dp[i - l][0] + lp,
                dp[i - l][1] - 1,
                dp[i - l][2] + (piece,),
            )
            if cand[:2] > best[:2] or (cand[:2] == best[:2] and cand[2] < best[2]):
                best = cand
        dp[i] = best  # single chars guarantee best[0] > -inf
    return list(dp[n][2])


@register("tokenizer_unigram_em")  # rows-only: iterative EM; pinned against
# an independent pure-Python EM on the same word-frequency dict in tests
def tokenizer_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece's other half,
    Kudo 2018 [P]) by Viterbi-EM: seed a substring vocabulary, then
    alternate (E) best-segmentation piece counts under current piece
    probabilities with (M) probability re-normalization; prune
    zero-count pieces each round. The Viterbi (hard-EM) variant is
    chosen over forward-backward soft counts deliberately: integer
    counts keep every iteration deterministic and engine-comparable,
    the property this registry certifies (documented divergence from
    SentencePiece's soft E-step).

    Scale shape: corpus size only enters the ONE word-frequency agg
    (distinct words ≪ corpus); every EM iteration is an Arrow-batched
    mapInPandas over the distinct-word table with the ≤ ~350-piece
    vocabulary broadcast as a plain dict, followed by a piece-count agg
    of at most |vocab| rows and an O(|vocab|) driver M-step. No
    corpus-sized shuffle after the first agg; same dataflow as
    `tokenizer_bpe_merges`."""
    import math

    d = table(spark, sf_dir, "documents")
    word_freq = (
        d.select(F.explode(words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .localCheckpoint()  # reused every EM iteration
    )

    # --- seed vocabulary: weighted substring counts, lengths 1..4 -------
    def substrings(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for w, f in zip(pdf["w"], pdf["f"]):
                n = len(w)
                for i in range(n):
                    for l in range(1, min(_MAX_PIECE, n - i) + 1):
                        rows.append((w[i : i + l], int(f)))
            if rows:
                yield pd.DataFrame(rows, columns=["piece", "f"])

    sub = (
        word_freq.mapInPandas(substrings, "piece string, f long")
        .groupBy("piece")
        .agg(F.sum("f").alias("cnt"))
    )
    top = sub.orderBy(F.desc("cnt"), "piece").limit(_SEED_N).collect()
    chars = (
        sub.filter(F.length("piece") == 1).select("piece", "cnt").collect()
    )
    counts: dict[str, int] = {}
    for r in chars:  # single chars first: coverage guarantee
        counts[r["piece"]] = int(r["cnt"])
    for r in top:
        counts.setdefault(r["piece"], int(r["cnt"]))

    # --- Viterbi-EM ----------------------------------------------------
    for _ in range(_EM_ITERS):
        total = sum(counts.values())
        logp = {p: math.log(c / total) for p, c in counts.items()}
        blog = spark.sparkContext.broadcast(logp)

        def e_step(batches):
            import pandas as pd

            from nfdump2clickhouse_spark.operators.wave18 import _viterbi

            lp = blog.value
            for pdf in batches:
                acc: dict[str, int] = {}
                for w, f in zip(pdf["w"], pdf["f"]):
                    for piece in _viterbi(w, lp):
                        acc[piece] = acc.get(piece, 0) + int(f)
                if acc:
                    yield pd.DataFrame(
                        list(acc.items()), columns=["piece", "cnt"]
                    )

        new_counts = (
            word_freq.mapInPandas(e_step, "piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        counts = {r["piece"]: int(r["cnt"]) for r in new_counts}

    total = sum(counts.values())
    out = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOP_OUT]
    return spark.createDataFrame(
        [
            (p, c, int((2 * 10**6 * c + total) // (2 * total)))
            for p, c in out
        ],
        "piece string, count bigint, prob_e6 bigint",
    )


_PPL_KEEP_LOGP = -6.2  # keep docs with mean char-bigram ln P above this


@register(
    "text_lm_perplexity_filter",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 2) AS b
      FROM documents,
           LATERAL (SELECT unnest(range(1, greatest(length(text), 1))) AS i) t
      WHERE length(text) >= 2
    ),
    model AS (
      SELECT b, ln(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER ()) AS logp
      FROM bg GROUP BY b
    ),
    score AS (
      SELECT bg.doc_id, ROUND(AVG(model.logp), 4) AS avg_logp
      FROM bg JOIN model ON bg.b = model.b
      GROUP BY bg.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(count_if(s.avg_logp >= {_PPL_KEEP_LOGP}) AS BIGINT)
             AS n_kept,
           CAST(count_if(s.avg_logp >= {_PPL_KEEP_LOGP}) * 10000
                // COUNT(*) AS BIGINT) AS kept_bp,
           CAST(SUM(CAST(FLOOR(exp(-s.avg_logp) * 10000) AS BIGINT))
                AS BIGINT) AS sum_ppl_e4
    FROM score s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def text_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-threshold quality gate per corpus source: score every
    document with the corpus-trained char-bigram LM (the
    `text_ngram_lm` model), keep documents whose mean log-probability
    clears the threshold, and report per-source keep rates + total
    perplexity mass — the CCNet/Gopher-style LM filter [P — Wenzek
    2020] as the operational report a curation run actually consumes
    (which sources are garbage-heavy, what a threshold change costs).

    Determinism discipline: the per-doc score is rounded BEFORE the
    threshold compare and the perplexity transform (exp of a 4dp
    value), and per-source perplexity accumulates as floor-scaled e4
    INTEGERS — no float sum order anywhere cross-engine. Plan: the
    model table is charset²-bounded (AQE broadcasts the score join);
    one doc-keyed agg; one source-keyed rollup."""
    d = table(spark, sf_dir, "documents")
    dd = d.filter(F.length("text") >= 2)
    bg = dd.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 1),
                lambda i: F.col("text").substr(i, F.lit(2)),
            )
        ).alias("b"),
    )
    w_all = Window.partitionBy()
    model = (
        bg.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("b", F.log(F.col("cnt") / F.sum("cnt").over(w_all)).alias("logp"))
    )
    score = (
        bg.join(model, "b")
        .groupBy("doc_id")
        .agg(F.round(F.avg("logp"), 4).alias("avg_logp"))
    )
    kept = F.count_if(F.col("avg_logp") >= _PPL_KEEP_LOGP)
    return (
        score.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            F.expr(
                f"CAST(count_if(avg_logp >= {_PPL_KEEP_LOGP}) * 10000"
                " DIV count(*) AS BIGINT)"
            ).alias("kept_bp"),
            F.sum(
                F.floor(F.exp(-F.col("avg_logp")) * 10000).cast("bigint")
            ).alias("sum_ppl_e4"),
        )
    )


_VOCAB_K = 100


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH words AS (
      SELECT d.source, w AS word
      FROM documents d,
           LATERAL (SELECT unnest(string_split_regex(lower(d.text),
                                                     '[^a-z0-9]+')) AS w) t
      WHERE w <> ''
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word)
               AS rnk
        FROM words GROUP BY word
      ) WHERE rnk <= {_VOCAB_K}
    ),
    scored AS (
      SELECT w.source,
             CASE WHEN v.word IS NOT NULL THEN 1
                  ELSE length(w.word) END AS n_tok,
             CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
      FROM words w LEFT JOIN vocab v ON w.word = v.word
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)      AS n_words,
           CAST(SUM(n_tok) AS BIGINT)    AS n_tokens,
           CAST(SUM(oov) AS BIGINT)      AS n_oov_words,
           CAST(SUM(n_tok) * 10000 // COUNT(*) AS BIGINT)
                                         AS tokens_per_word_e4
    FROM scored GROUP BY source
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-economics report: price a top-K word vocabulary with
    byte/char fallback against each corpus source — in-vocab words
    cost 1 token, OOV words fall back to one token per character (the
    worst-case fallback every real tokenizer bounds). tokens/word per
    source is THE number that decides vocab size and flags sources
    (code, non-Latin, noisy OCR) that will blow the token budget;
    `tokenizer_bpe_apply` then prices actual sub-word merges for the
    tail this report exposes.

    The vocab is derived IN-QUERY (top-K by corpus frequency, ties by
    word — fully deterministic, so the oracle derives the identical
    vocab): one word-frequency agg, then ``orderBy().limit(K)`` so
    Catalyst plans TakeOrderedAndProject — per-partition top-K merged
    on the driver, never a global sort of the distinct-word table
    (which grows with the corpus, Heaps' law); the K-row vocab
    broadcasts back into the word stream join; one per-source rollup.
    Integer token accounting throughout."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"),
    ).filter(F.col("word") != "")
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(_VOCAB_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    scored = words.join(F.broadcast(vocab), "word", "left").select(
        "source",
        F.when(F.col("in_vocab").isNotNull(), 1)
        .otherwise(F.length("word"))
        .alias("n_tok"),
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("oov").alias("n_oov_words"),
        F.expr("CAST(SUM(n_tok) * 10000 DIV COUNT(*) AS BIGINT)").alias(
            "tokens_per_word_e4"
        ),
    )


# ---------------------------------------------------------------------------
# text_novelty_curve
# ---------------------------------------------------------------------------
@register(
    "text_novelty_curve",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE len(string_split(text, ' ')) >= 5),
    s AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                   || ws[i+3] || ' ' || ws[i+4] AS sh
      FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
    ),
    firsts AS (SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_sh,
             COUNT(*) FILTER (WHERE f.first_doc = s.doc_id) AS n_novel
      FROM s JOIN firsts f ON s.sh = f.sh
      GROUP BY s.doc_id
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM per_doc)
    SELECT CAST(p.doc_id * 10 // (mx.m + 1) AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           CAST(SUM(n_novel) * 10000 // SUM(n_sh) AS BIGINT) AS novelty_bp
    FROM per_doc p, mx
    GROUP BY 1
    """,
)
def text_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve: order the corpus by ingestion (doc_id),
    bucket into deciles, and measure what share of each decile's word
    5-grams is seen for the FIRST time there (global first occurrence
    = min doc_id per shingle; a shingle repeated inside one doc counts
    once). A falling curve is dedup saturation — the number that tells
    a data-acquisition team the marginal value of the next crawl
    increment before paying for it.

    Within-doc shingle dedup happens ROW-LOCALLY (array_distinct on
    the shingle array before the explode — no (doc, sh) distinct
    shuffle at all); then one shingle-keyed aggregation finds first
    occurrences, the join back rides the same shingle key, one doc
    rollup, one bounded decile rollup; the 1-row max(doc_id)
    broadcasts. Integer basis points throughout."""
    d = table(spark, sf_dir, "documents")
    s = (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(ws) - 4),"
                    " i -> array_join(slice(ws, i, 5), ' ')))"
                )
            ).alias("sh"),
        )
    )
    firsts = s.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        s.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias("n_novel"),
        )
    )
    mx = per_doc.agg(F.max("doc_id").alias("m"))
    return (
        per_doc.crossJoin(F.broadcast(mx))  # 1-row total
        .groupBy(
            F.expr("CAST(doc_id * 10 DIV (m + 1) AS BIGINT)").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
            F.expr("CAST(SUM(n_novel) * 10000 DIV SUM(n_sh) AS BIGINT)").alias(
                "novelty_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# curation_filter_funnel
# ---------------------------------------------------------------------------
@register(
    "curation_filter_funnel",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, text, n_chars,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
             length(text) AS n_len
      FROM documents
    ),
    gates AS (
      SELECT doc_id, source,
             CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1 ELSE 0 END AS g1,
             CASE WHEN n_alpha * 100 >= n_len * 60 THEN 1 ELSE 0 END   AS g2,
             CASE WHEN text LIKE '% the %' OR text LIKE '% and %'
                    OR text LIKE '% of %' THEN 1 ELSE 0 END            AS g3,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END                                    AS g4
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                      AS n_docs,
           CAST(SUM(g1) AS BIGINT)                       AS pass_len,
           CAST(SUM(g1 * g2) AS BIGINT)                  AS pass_alpha,
           CAST(SUM(g1 * g2 * g3) AS BIGINT)             AS pass_stopword,
           CAST(SUM(g1 * g2 * g3 * g4) AS BIGINT)        AS pass_dedup,
           CAST(SUM(g1 * g2 * g3 * g4) * 10000 // COUNT(*) AS BIGINT)
                                                          AS keep_bp
    FROM gates GROUP BY source
    """,
)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential curation funnel per source: length gate -> alpha-ratio
    gate -> stopword-presence gate -> exact-dedup gate, with survivors
    counted at EVERY stage (the attrition table LLM data papers publish
    [P — Gopher/RefinedWeb]; `text_quality_filter_e2e` applies one
    composite gate — this reports where documents die, which is what a
    curation team actually tunes). Gate predicates are row-local
    integer/string arithmetic; the dedup gate is a keep-first over an
    md5 window (one content-key exchange); one bounded per-source
    rollup. Every count is an exact integer — the funnel is
    monotone non-increasing by construction."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        "n_chars",
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("n_alpha"),
        F.length("text").alias("n_len"),
    )
    g4w = Window.partitionBy(F.md5("text"))
    gates = d.select(
        "source",
        F.when(F.col("n_chars").between(100, 10000), 1).otherwise(0).alias("g1"),
        F.when(F.col("n_alpha") * 100 >= F.col("n_len") * 60, 1)
        .otherwise(0)
        .alias("g2"),
        F.when(
            F.col("text").like("% the %")
            | F.col("text").like("% and %")
            | F.col("text").like("% of %"),
            1,
        )
        .otherwise(0)
        .alias("g3"),
        F.when(F.col("doc_id") == F.min("doc_id").over(g4w), 1)
        .otherwise(0)
        .alias("g4"),
    )
    return gates.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("g1").alias("pass_len"),
        F.sum(F.col("g1") * F.col("g2")).alias("pass_alpha"),
        F.sum(F.col("g1") * F.col("g2") * F.col("g3")).alias("pass_stopword"),
        F.sum(F.col("g1") * F.col("g2") * F.col("g3") * F.col("g4")).alias(
            "pass_dedup"
        ),
        F.expr(
            "CAST(SUM(g1 * g2 * g3 * g4) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("keep_bp"),
    )


# ---------------------------------------------------------------------------
# text_keywords_topk
# ---------------------------------------------------------------------------
_KW_TOP = 20


@register(
    "text_keywords_topk",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT d.doc_id, w AS word
      FROM documents d,
           LATERAL (SELECT unnest(string_split_regex(lower(d.text),
                                                     '[^a-z0-9]+')) AS w) t
      WHERE w <> '' AND length(w) >= 3
    ),
    tf AS (  -- binary tf on the distinct word set; df across docs
      SELECT doc_id, word, COUNT(*) OVER (PARTITION BY word) AS df
      FROM words
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM words),
    scoredw AS (
      SELECT doc_id, word,
             CAST(FLOOR(ln(CAST(nd AS DOUBLE) / df) * 1000000) AS BIGINT)
               AS idf_e6
      FROM tf, n
    ),
    top1 AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, word,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY idf_e6 DESC, word) AS rn
        FROM scoredw
      ) WHERE rn = 1
    )
    SELECT word AS keyword, CAST(COUNT(*) AS BIGINT) AS n_docs_headlined
    FROM top1 GROUP BY word
    ORDER BY n_docs_headlined DESC, keyword LIMIT {_KW_TOP}
    """,
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-salience report: each document's single most
    distinctive term (highest IDF among its words — binary-TF TF-IDF,
    the form that needs no length normalization), rolled up to 'how
    many documents does each keyword headline', top-{_KW_TOP}. The
    per-doc distinctive term is what search snippets, tagging, and
    topic drift monitors consume; `text_tfidf` scores the full (doc,
    term) matrix — this key extracts the argmax signal.

    Ranking is INTEGER-exact: idf as floor(ln(N/df)*1e6) (one
    transcendental per distinct df value, same double both engines),
    ties by word — so the per-doc argmax is deterministic. Per-doc
    top-1 rides a row_number window pruned to WindowGroupLimit; the
    final top-{_KW_TOP} is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower("text"), "[^a-z0-9]+"))
            ).alias("word"),
        )
        .filter((F.col("word") != "") & (F.length("word") >= 3))
    )
    wdf = Window.partitionBy("word")
    tf = words.select(
        "doc_id", "word", F.count(F.lit(1)).over(wdf).alias("df")
    )
    nd = words.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("nd")
    )
    scoredw = tf.crossJoin(F.broadcast(nd)).select(
        "doc_id",
        "word",
        F.floor(
            F.log(F.col("nd").cast("double") / F.col("df")) * 1000000
        ).cast("bigint").alias("idf_e6"),
    )
    w1 = Window.partitionBy("doc_id").orderBy(F.desc("idf_e6"), "word")
    top1 = (
        scoredw.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("doc_id", "word")
    )
    return (
        top1.groupBy(F.col("word").alias("keyword"))
        .agg(F.count(F.lit(1)).alias("n_docs_headlined"))
        .orderBy(F.desc("n_docs_headlined"), "keyword")
        .limit(_KW_TOP)
    )


# ---------------------------------------------------------------------------
# text_zipf_slope
# ---------------------------------------------------------------------------
@register(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT lang, t.w AS word
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(w)
      WHERE t.w <> ''
    ),
    cnt AS (
      SELECT lang, word, COUNT(*) AS freq FROM tok GROUP BY lang, word
    ),
    vocab AS (SELECT lang, COUNT(*) AS n_vocab FROM cnt GROUP BY lang),
    ranked AS (
      SELECT lang, freq,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY freq DESC, word) AS rnk
      FROM cnt
    ),
    fit AS (
      SELECT lang,
             regr_slope(LN(freq), LN(rnk)) AS slope,
             regr_r2(LN(freq), LN(rnk)) AS r2
      FROM ranked WHERE rnk <= 100 GROUP BY lang
    )
    SELECT v.lang,
           CAST(v.n_vocab AS BIGINT) AS n_vocab,
           ROUND(f.slope, 4) AS zipf_slope,
           ROUND(f.r2, 4) AS fit_r2
    FROM vocab v JOIN fit f USING (lang) ORDER BY v.lang
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: word frequencies from whitespace
    tokens, rank the vocabulary by (freq desc, word) and OLS-fit
    ln(freq) against ln(rank) over the top 100 ranks. Natural text has
    slope ≈ −1 with high R²; a far-off slope is a standard
    generated/degenerate-corpus diagnostic in pre-training curation.

    The (lang, word) count is one map-side-combinable aggregate; the
    top-100-per-lang filter on `row_number` is rewritten by Catalyst
    into WindowGroupLimit (map-side partial top-k — plan-pinned), so
    no lang's full vocabulary is ever sorted on one reducer; the
    regression is Spark's built-in `regr_slope`/`regr_r2` over ≤100·L
    rows; vocabulary size joins in from a sibling aggregate of the
    same counts."""
    tok = (
        table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    cnt = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("freq"))
    vocab = cnt.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_vocab"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "word")
    ranked = cnt.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 100)
    fit = ranked.groupBy("lang").agg(
        F.round(F.regr_slope(F.log("freq"), F.log("rnk")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("freq"), F.log("rnk")), 4).alias("fit_r2"),
    )
    return vocab.join(fit, "lang").select(
        "lang", "n_vocab", "zipf_slope", "fit_r2"
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# tokenizer_wordpiece_apply
# ---------------------------------------------------------------------------
def wordpiece_encode(word: str, vocab: set[str], max_len: int = 100) -> list[str]:
    """Reference WordPiece greedy longest-match-first encode (BERT
    semantics): repeatedly take the LONGEST vocab piece that prefixes
    the remainder, continuation pieces carry the '##' prefix, and a
    word with any unmatchable remainder encodes to ['[UNK]']."""
    if len(word) > max_len:
        return ["[UNK]"]
    pieces: list[str] = []
    start = 0
    while start < len(word):
        end = len(word)
        cur = None
        while start < end:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            return ["[UNK]"]
        pieces.append(cur)
        start = end
    return pieces


def build_wordpiece_vocab(spark: SparkSession, sf_dir: str, top_words: int = 10) -> list[str]:
    """Deterministic corpus-derived vocab: every single character seen
    (both word-initial and '##' continuation forms) + the `top_words`
    most frequent whole words (freq desc, word asc tiebreak) — the
    shape a real WordPiece trainer converges to, built with one
    aggregate + one TakeOrderedAndProject."""
    from ..functions.text import words as _words

    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(_words(F.lower(F.col("text")))).alias("word"))
    )
    top = [
        r["word"]
        for r in tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "word")
        .limit(top_words)
        .collect()
    ]
    chars = sorted(
        {
            ch
            for r in tok.select(
                F.explode(F.split(F.col("word"), "(?!^)")).alias("ch")
            )
            .filter(F.col("ch") != "")
            .distinct()
            .collect()
            for ch in [r["ch"]]
        }
    )
    return sorted(set(top) | set(chars) | {"##" + c for c in chars})


@register("tokenizer_wordpiece_apply")  # rows-only: vocab is corpus-derived
def tokenizer_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece encoding economics per source: encode every document
    with greedy longest-match-first over a deterministic corpus-derived
    vocab (all chars + top-10 words; the synthetic corpus has ~31
    distinct words, so the other ~21 genuinely split into pieces) and report token counts, tokens
    per word, and the share of words that fell back to [UNK]. The
    fourth tokenizer-family member — BPE learns merges bottom-up,
    WordPiece consumes a vocab top-down.

    The vocab is tiny driver state broadcast into ONE Arrow-batched
    pandas UDF; encoding is embarrassingly row-parallel (zero shuffles
    before the per-source agg). The UDF encodes each DISTINCT word
    once per batch via a local memo — the corpus repeats words heavily,
    so the hot loop runs on the vocabulary, not the token stream."""
    from pyspark.sql.functions import pandas_udf

    vocab = set(build_wordpiece_vocab(spark, sf_dir))

    @pandas_udf("struct<n_words: long, n_tokens: long, n_unk_words: long>")
    def wp_stats(texts: pd.Series) -> pd.DataFrame:
        memo: dict[str, tuple[int, int]] = {}

        def word_stats(w: str) -> tuple[int, int]:
            got = memo.get(w)
            if got is None:
                enc = wordpiece_encode(w, vocab)
                got = (len(enc), 1 if enc == ["[UNK]"] else 0)
                memo[w] = got
            return got

        rows = []
        for t in texts:
            ws = [w for w in t.lower().split(" ") if w]
            toks = unk = 0
            for w in ws:
                nt, nu = word_stats(w)
                toks += nt
                unk += nu
            rows.append((len(ws), toks, unk))
        return pd.DataFrame(rows, columns=["n_words", "n_tokens", "n_unk_words"])

    # NULL docs have no words to encode — gated before the UDF (None
    # crashes .lower(); EDGE_SWEEP_r10 class A)
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", "text")
    )
    st = docs.select("source", wp_stats("text").alias("s"))
    return (
        st.groupBy("source")
        .agg(
            F.sum("s.n_words").cast("bigint").alias("n_words"),
            F.sum("s.n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("s.n_unk_words").cast("bigint").alias("n_unk_words"),
            F.round(F.sum("s.n_tokens") * 1.0 / F.sum("s.n_words"), 4).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# text_compression_ratio
# ---------------------------------------------------------------------------
@register("text_compression_ratio")  # rows-only: zlib is not in DuckDB SQL
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility quality filter: zlib-compress every document
    (level 6, the pipeline default) and report per-source mean
    compression ratio (raw/compressed bytes) plus the share of
    documents whose ratio exceeds 4.0 — highly compressible text is
    repetitive boilerplate/spam, one of the standard cheap curation
    signals alongside `text_repetition_filter` (n-gram form) and
    `text_char_entropy` (information form; compression ratio ≈
    8/bits-per-char, the empirical link pinned in the suite).

    One Arrow-batched pandas UDF (zlib is C-speed; the batch loop is
    per-document, not per-byte), zero shuffles before the per-source
    rollup. Deterministic: zlib level 6 output bytes are a pure
    function of input for a fixed zlib, and only LENGTHS are used."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def comp_ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = t.encode("utf-8")
            comp = zlib.compress(raw, 6)
            out.append(len(raw) / max(len(comp), 1))
        return pd.Series(out)

    # NULL docs have no bytes to compress — gated before the UDF (None
    # crashes .encode(); EDGE_SWEEP_r10 class A)
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", "text")
    )
    scored = docs.select("source", comp_ratio("text").alias("ratio"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("mean_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
            F.round(F.avg((F.col("ratio") > 4.0).cast("double")), 4).alias(
                "share_repetitive"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# doc_sentence_stats
# ---------------------------------------------------------------------------
@register(
    "doc_sentence_stats",
    oracle="""
    WITH s AS (
      SELECT lang, doc_id,
             len(list_filter(string_split_regex(text, '[.!?]+'),
                             x -> trim(x) <> '')) AS n_sent,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_words
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
           ROUND(AVG(n_sent), 4) AS sent_per_doc,
           ROUND(SUM(n_words) * 1.0 / SUM(n_sent), 4) AS words_per_sent
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def doc_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation profile per language: split on terminal
    punctuation runs ([.!?]+), count non-empty sentences and words, and
    report sentences/doc and words/sentence — corpus-profiling numbers
    that feed chunking policy (`doc_chunking` wants sentence-shaped
    boundaries) and quality filters (degenerate words-per-sentence is a
    boilerplate tell).

    Splitting is scan-local regexp codegen (identical pattern both
    engines; Spark `split` and DuckDB `string_split_regex` agree on
    the [.!?]+ pattern); one language rollup is the only exchange."""
    d = table(spark, sf_dir, "documents")
    sents = F.size(
        F.filter(
            F.split(F.col("text"), r"[.!?]+"),
            lambda x: F.trim(x) != "",
        )
    )
    words = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    s = d.select("lang", sents.alias("n_sent"), words.alias("n_words"))
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sent").cast("bigint").alias("n_sentences"),
            F.round(F.avg("n_sent"), 4).alias("sent_per_doc"),
            F.round(F.sum("n_words") * 1.0 / F.sum("n_sent"), 4).alias(
                "words_per_sent"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# text_burstiness_dispersion
# ---------------------------------------------------------------------------
@register(
    "text_burstiness_dispersion",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.w AS word
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(w)
      WHERE t.w <> ''
    ),
    per_doc AS (
      SELECT word, doc_id, COUNT(*) AS c FROM tok GROUP BY word, doc_id
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    stats AS (
      SELECT p.word,
             SUM(p.c) AS total,
             COUNT(*) AS docs_with,
             SUM(p.c) * 1.0 / nd.n_docs AS mean_c,
             (SUM(p.c * p.c) - SUM(p.c) * SUM(p.c) * 1.0 / nd.n_docs)
               / (nd.n_docs - 1) AS var_c
      FROM per_doc p CROSS JOIN nd
      GROUP BY p.word, nd.n_docs
    ),
    ranked AS (
      SELECT word, total, docs_with,
             ROUND(var_c / mean_c, 4) AS dispersion,
             ROW_NUMBER() OVER (ORDER BY total DESC, word) AS rn
      FROM stats
    )
    SELECT word, CAST(total AS BIGINT) AS total,
           CAST(docs_with AS BIGINT) AS docs_with, dispersion
    FROM ranked WHERE rn <= 30 ORDER BY total DESC, word
    """,
)
def text_burstiness_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness via the dispersion index var/mean of per-doc
    counts (zero-count docs included through the moment algebra):
    D ≈ 1 is Poisson-spread (function words — everywhere, evenly);
    D ≫ 1 is bursty (topical words — absent mostly, clumped where
    they occur). The corpus-linguistics signal that separates
    stopword-like tokens from content words WITHOUT a stopword list —
    feeds `text_keywords_topk`-style weighting. Top-30 by frequency.

    One (word, doc) count, then per-word moments where the zero-doc
    mass enters via closed form (Σc over ALL docs with n_docs in the
    denominator — no explode of zero cells); top-30 is a
    TakeOrderedAndProject. n_docs rides in as a 1-row broadcast."""
    tok = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    per_doc = tok.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = tok.agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
    c, n = F.col("c"), F.col("n_docs")
    stats = (
        per_doc.crossJoin(F.broadcast(nd))
        .groupBy("word", "n_docs")
        .agg(
            F.sum(c).alias("total"),
            F.count(F.lit(1)).alias("docs_with"),
            F.sum(c * c).alias("scc"),
        )
    )
    mean_c = F.col("total") * 1.0 / n
    # try_divide: a single-document corpus (n==1) leaves the cross-doc
    # variance undefined -> NULL, matching DuckDB (r7 edge sweep)
    var_c = F.try_divide(
        F.col("scc") - F.col("total") * F.col("total") * 1.0 / n, n - 1
    )
    return (
        stats.select(
            "word",
            F.col("total").cast("bigint").alias("total"),
            F.col("docs_with").cast("bigint").alias("docs_with"),
            F.round(var_c / mean_c, 4).alias("dispersion"),
        )
        .orderBy(F.desc("total"), "word")
        .limit(30)
        .orderBy(F.desc("total"), "word")
    )


# ---------------------------------------------------------------------------
# text_pmi_collocations
# ---------------------------------------------------------------------------
@register(
    "text_pmi_collocations",
    oracle="""
    WITH dw AS (
      SELECT DISTINCT doc_id, t.w AS word
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(w)
      WHERE t.w <> ''
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dw),
    wc AS (SELECT word, COUNT(*) AS c FROM dw GROUP BY word),
    pairs AS (
      SELECT a.word AS w1, b.word AS w2, COUNT(*) AS c12
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.w1, p.w2, p.c12,
             ROUND(LN(p.c12 * 1.0 * nd.n / (ca.c * 1.0 * cb.c)), 4) AS pmi
      FROM pairs p
      JOIN wc ca ON p.w1 = ca.word
      JOIN wc cb ON p.w2 = cb.word
      CROSS JOIN nd
      WHERE p.c12 >= 20
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rn
      FROM scored
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi
    FROM ranked WHERE rn <= 20 ORDER BY pmi DESC, w1, w2
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word collocations by document-level PMI: for word pairs
    co-occurring in ≥20 documents, PMI = ln(P(a,b)/(P(a)P(b))) over
    document presence — positive PMI means the words seek each other
    out (collocations, entities, idioms), ~0 means independence; the
    Church–Hanks score that feeds phrase detection and tokenizer
    merge-candidate mining (the statistical cousin of
    `tokenizer_bpe_merges`' frequency rule). Top-20 reported.

    Presence pairs come from ONE doc-keyed self-join of the (doc,
    word) distinct — bounded by per-doc vocabulary, never corpus² —
    then marginals join in from the word-count rollup (tiny,
    broadcast); top-20 is TakeOrderedAndProject on the rounded PMI."""
    dw = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
        .localCheckpoint()  # pairs + marginals + doc count share it
    )
    nd = dw.agg(F.count_distinct(F.col("doc_id")).alias("n"))
    # marginals checkpointed: BOTH pair sides read them broadcast, and
    # a re-derived aggregate would double the (bounded) marginal pass
    wc = (
        dw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    a = dw.select(F.col("doc_id"), F.col("word").alias("w1"))
    b = dw.select(F.col("doc_id"), F.col("word").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 20)
    )
    ca = wc.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    cb = wc.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pairs.join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(
                F.log(
                    F.col("c12") * 1.0 * F.col("n") / (F.col("c1") * 1.0 * F.col("c2"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
        .orderBy(F.desc("pmi"), "w1", "w2")
    )


# ---------------------------------------------------------------------------
# text_flesch_reading_ease
# ---------------------------------------------------------------------------
@register(
    "text_flesch_reading_ease",
    oracle="""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_words,
             greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                      x -> trim(x) <> '')), 1) AS n_sents,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syll
      FROM documents
    ),
    scored AS (
      SELECT lang,
             206.835 - 1.015 * (n_words * 1.0 / n_sents)
                     - 84.6 * (n_syll * 1.0 / n_words) AS fre
      FROM d WHERE n_words > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(fre), 4) AS mean_fre,
           ROUND(MIN(fre), 4) AS min_fre,
           ROUND(MAX(fre), 4) AS max_fre,
           CAST(count_if(fre < 30) AS BIGINT) AS n_very_hard
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def text_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per language: 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words), with syllables approximated
    by vowel-group runs ([aeiouy]+ — the standard cheap heuristic) —
    the readability layer of a text-quality stack (`doc_sentence_stats`
    supplies the structure, this scores it; docs under 30 are
    'very hard' — academic/legalese/garbled). The heuristic's bias is
    uniform across a corpus, which is all a FILTER needs.

    All three counts are scan-local regexp/split codegen with the same
    patterns both engines; one language rollup. Sentence and syllable
    floors of 1 keep degenerate docs finite identically."""
    d = table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias(
            "n_words"
        ),
        F.greatest(
            F.size(
                F.filter(
                    F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x) != ""
                )
            ),
            F.lit(1),
        ).alias("n_sents"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
            F.lit(1),
        ).alias("n_syll"),
    )
    fre = (
        F.lit(206.835)
        - 1.015 * (F.col("n_words") * 1.0 / F.col("n_sents"))
        - 84.6 * (F.col("n_syll") * 1.0 / F.col("n_words"))
    )
    scored = d.filter(F.col("n_words") > 0).select("lang", fre.alias("fre"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("fre"), 4).alias("mean_fre"),
            F.round(F.min("fre"), 4).alias("min_fre"),
            F.round(F.max("fre"), 4).alias("max_fre"),
            F.count_if(F.col("fre") < 30).cast("bigint").alias("n_very_hard"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# text_hapax_ratio
# ---------------------------------------------------------------------------
@register(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT lang, t.w AS word
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(w)
      WHERE t.w <> ''
    ),
    wc AS (SELECT lang, word, COUNT(*) AS c FROM tok GROUP BY lang, word)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(c) AS BIGINT) AS tokens,
           CAST(count_if(c = 1) AS BIGINT) AS hapax,
           CAST(count_if(c = 2) AS BIGINT) AS dis_legomena,
           CAST(10000 * count_if(c = 1) // COUNT(*) AS BIGINT)
             AS hapax_vocab_bp
    FROM wc GROUP BY lang ORDER BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena per language: words occurring exactly once (and
    dis legomena, exactly twice) as a share of vocabulary — the
    classical richness measure next to `text_ttr_diversity`, and the
    practical vocabulary-budget number: hapaxes are the long tail a
    tokenizer's vocab cutoff discards and a Good–Turing smoother
    needs. Natural text keeps hapax/vocab near 40–60%; a synthetic
    closed-vocabulary corpus (this fixture) sits near 0 — the contrast
    IS the diagnostic.

    One (lang, word) combinable count then a bounded per-lang rollup —
    the `text_zipf_slope` scan shape without the window."""
    tok = (
        table(spark, sf_dir, "documents")
        .select(
            "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    wc = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c")
    return (
        wc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum(c).cast("bigint").alias("tokens"),
            F.count_if(c == 1).cast("bigint").alias("hapax"),
            F.count_if(c == 2).cast("bigint").alias("dis_legomena"),
            F.expr("10000 * count_if(c = 1) DIV count(1)")
            .cast("bigint")
            .alias("hapax_vocab_bp"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# text_lang_divergence
# ---------------------------------------------------------------------------
@register(
    "text_lang_divergence",
    oracle="""
    WITH chars AS (
      SELECT lang, t.ch AS ch, COUNT(*) AS c
      FROM documents,
           UNNEST(string_split_regex(lower(text), '')) AS t(ch)
      WHERE t.ch <> '' AND t.ch <> ' '
      GROUP BY lang, t.ch
    ),
    tot AS (SELECT lang, SUM(c) AS n FROM chars GROUP BY lang),
    p AS (
      SELECT chars.lang, chars.ch, chars.c * 1.0 / tot.n AS p
      FROM chars JOIN tot USING (lang)
    ),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             a.ch, COALESCE(a.p, 0) AS pa, COALESCE(b.p, 0) AS pb
      FROM p a JOIN p b ON a.ch = b.ch AND a.lang < b.lang
    ),
    contrib AS (
      SELECT lang_a, lang_b,
             SUM(CASE WHEN pa > 0
                 THEN 0.5 * pa * LOG2(pa / ((pa + pb) / 2)) ELSE 0 END
               + CASE WHEN pb > 0
                 THEN 0.5 * pb * LOG2(pb / ((pa + pb) / 2)) ELSE 0 END)
               AS jsd_shared
      FROM pairs GROUP BY lang_a, lang_b
    )
    SELECT lang_a, lang_b, ROUND(jsd_shared, 4) + 0 AS jsd
    FROM contrib ORDER BY lang_a, lang_b
    """,
)
def text_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between language character
    distributions — the language distance matrix: JSD is symmetric,
    bounded [0,1] in log2, and defined even where supports differ —
    the geometry under `text_langid`'s decisions and the
    confusion-risk map (close pairs misclassify into each other).
    (This fixture's five 'languages' share one English word pool, so
    JSD ≈ 0 everywhere — the null case, itself pinned.)

    Per-language char distributions are one (lang, char) rollup
    (bounded by charset); the pair join runs on the ≤ |langs|·|charset|
    distribution table. Characters present in only one language
    contribute through their own term with the shared-support char
    join (chars absent from BOTH sides contribute 0 by definition);
    with a shared corpus pool the supports coincide, making the
    shared-char sum the complete JSD — the suite verifies support
    equality before trusting it."""
    chars = (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.split(F.lower(F.col("text")), "")).alias("ch"),
        )
        .filter((F.col("ch") != "") & (F.col("ch") != " "))
        .groupBy("lang", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = chars.groupBy("lang").agg(F.sum("c").alias("n"))
    p = chars.join(F.broadcast(tot), "lang").select(
        "lang", "ch", (F.col("c") * 1.0 / F.col("n")).alias("p")
    ).localCheckpoint()  # both pair sides share one compute
    a = p.select(
        F.col("lang").alias("lang_a"), "ch", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("lang").alias("lang_b"), "ch", F.col("p").alias("pb")
    )
    pairs = a.join(b, "ch").filter(F.col("lang_a") < F.col("lang_b"))
    mid = (F.col("pa") + F.col("pb")) / 2
    term = F.when(
        F.col("pa") > 0, 0.5 * F.col("pa") * F.log2(F.col("pa") / mid)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("pb") > 0, 0.5 * F.col("pb") * F.log2(F.col("pb") / mid)
    ).otherwise(F.lit(0.0))
    contrib = pairs.groupBy("lang_a", "lang_b").agg(
        F.sum(term).alias("jsd_shared")
    )
    return contrib.select(
        "lang_a", "lang_b", (F.round("jsd_shared", 4) + F.lit(0)).alias("jsd")
    ).orderBy("lang_a", "lang_b")


# --- BPE encoding (apply learned merges) -------------------------------------
@register("tokenizer_bpe_apply")  # rows-only: BPE encoding is not
# SQL-expressible; exact equality with the pure-Python Sennrich encoder
# is pinned in tests
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the other half of the tokenizer story
    (`tokenizer_bpe_merges` learns the rules; this applies them to the
    corpus): each word splits to characters, then the learned merges
    apply in rank order (the standard greedy encode), and the key
    reports per-source token economics — char-level vs BPE token
    counts and the merge-won compression in basis points.

    Scale shape: the merge list is tiny driver state (5 rules here,
    ~50k in production) broadcast into an Arrow-batched pandas UDF;
    encoding is embarrassingly row-parallel with ZERO shuffles before
    the final per-source agg. The same-word repetition means a
    word-distinct encode + count join would also work; the direct form
    keeps the hot loop branch-free per doc."""
    from pyspark.sql.functions import pandas_udf

    from ..catalog import table as _table
    from ..functions.text import words
    from .wave12 import learn_bpe_merges

    merges = [m[1].split(" ") for m in learn_bpe_merges(spark, sf_dir, 5)]

    @pandas_udf("long")
    def bpe_token_count(texts: pd.Series) -> pd.Series:
        def encode_word(word: str) -> int:
            syms = list(word)
            for a, b in merges:
                out, i, n = [], 0, len(syms)
                while i < n:
                    if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        return texts.apply(
            lambda t: sum(encode_word(w) for w in t.split()) if t else 0
        )

    d = _table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.aggregate(
            F.transform(words(F.col("text")), lambda w: F.length(w)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_char_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_char_tokens").alias("char_tokens"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
        F.expr(
            "CAST(10000 * SUM(n_bpe_tokens) DIV SUM(n_char_tokens) AS BIGINT)"
        ).alias("compression_bp"),
    )


# --- lexicon sentiment scoring -----------------------------------------------

# valence lexicon over the fixture vocabulary (the real swap-in is any
# public lexicon table; integer weights keep the hash gate exact)
_SENTI = [
    ("fast", 2),
    ("big", 1),
    ("merge", 1),
    ("slow", -2),
    ("small", -1),
    ("dup", -1),
]


@register(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(w, wt) AS (
      VALUES {", ".join(f"('{w}', {s})" for w, s in _SENTI)}
    ),
    t AS (
      SELECT d.doc_id, d.source, UNNEST(string_split(d.text, ' ')) AS w
      FROM documents d
    ),
    s AS (
      SELECT t.doc_id, t.source,
             CAST(COALESCE(SUM(lex.wt), 0) AS BIGINT) AS score
      FROM t LEFT JOIN lex ON t.w = lex.w
      GROUP BY t.doc_id, t.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(count_if(score > 0) AS BIGINT) AS n_pos,
           CAST(count_if(score < 0) AS BIGINT) AS n_neg,
           CAST(SUM(score) AS BIGINT) AS total_score
    FROM s GROUP BY source
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring — the classic distributed-Spark
    text-scoring workload (cf. the EDBT'16 large-scale Twitter
    sentiment-on-Spark line of work [PAPERS.md]): per-document valence
    = sum of lexicon weights over tokens, rolled up per source.

    Scale shape: the lexicon is a tiny BROADCAST table (any public
    lexicon is ~10k rows) joined against the exploded token stream —
    the join carries (doc, token) rows with integer weights, the
    per-doc sum is one partial+final agg keyed on doc, and the
    source rollup reuses the already-small per-doc table. Integer
    weights end-to-end; no floats to drift."""
    from ..catalog import table as _table

    lex = F.broadcast(
        spark.createDataFrame(_SENTI, "w string, wt int")
    )
    d = _table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    s = (
        t.join(lex, "w", "left")
        .groupBy("doc_id", "source")
        .agg(F.coalesce(F.sum("wt"), F.lit(0)).cast("bigint").alias("score"))
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("score") > 0).cast("bigint").alias("n_pos"),
        F.count_if(F.col("score") < 0).cast("bigint").alias("n_neg"),
        F.sum("score").cast("bigint").alias("total_score"),
    )


# --- vocabulary diversity ----------------------------------------------------
@register(
    "text_ttr_diversity",
    oracle="""
    WITH t AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types,
           CAST(10000 * COUNT(DISTINCT w) // COUNT(*) AS BIGINT) AS ttr_bp
    FROM t GROUP BY source
    """,
)
def text_ttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per source — the lexical-diversity screen next
    to `text_vocab_topk` (a source whose TTR collapses is template spam
    even when quality heuristics pass). One exploded-token agg with an
    exact distinct; basis points keep it integer-exact. At extreme
    vocabulary the exact distinct swaps to approx_count_distinct
    (`agg_approx_distinct`'s pinned 5% contract)."""
    from ..catalog import table as _table

    t = _table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("n_types"),
        F.expr(
            "CAST(10000 * COUNT(DISTINCT w) DIV COUNT(*) AS BIGINT)"
        ).alias("ttr_bp"),
    )


# --- boilerplate n-gram detector ---------------------------------------------
@register(
    "text_boilerplate_ngrams",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(ws[i:i+4], ' ') AS gram
      FROM w, UNNEST(generate_series(1, greatest(len(ws) - 4, 0))) AS t(i)
    ),
    df AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM g GROUP BY gram
    )
    SELECT gram, doc_freq FROM df
    QUALIFY ROW_NUMBER() OVER (ORDER BY doc_freq DESC, gram) <= 20
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detector: the 20 most DOCUMENT-frequent 5-grams —
    exact phrases recurring across many documents are navigation chrome,
    license headers, and template residue (the C4/RefinedWeb cleanup
    target); document frequency (not raw count) is what separates
    boilerplate from naturally common words.

    Shape: per-doc DISTINCT grams (dedup inside the doc first, so one
    spammy doc can't fake corpus-wide boilerplate), one gram-keyed
    doc-frequency agg with map-side combine, top-20 as
    TakeOrderedAndProject — never a global sort."""
    from ..catalog import table as _table

    d = _table(spark, sf_dir, "documents")
    g = (
        # two-sided gate: a NULL text has no grams — unguarded, Spark's
        # concat_ws over the NULL slice fabricates an '' gram per doc
        # (r8 nullmix sweep)
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("ws") - 4, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("ws", i, 5)),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    return (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(20)
    )
