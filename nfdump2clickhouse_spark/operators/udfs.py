"""UDF / UDAF / UDTF surface (SURVEY §2.10).

The reference's per-file pandas transform [P] generalizes here to Spark's
Python-execution tiers, worst to best for the 100 TB path:
row-at-a-time Python UDF (pickled per row — demonstrated once, never used
in engine hot paths) → Arrow-vectorized pandas UDFs (Series batches) →
grouped applyInPandas / partition-wise mapInPandas → SQL UDTFs.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf, udf, udtf

from ..catalog import table
from ..registry import register
from .relational import _register_tpch_views


@register(
    "udf_python_scalar",
    oracle="""
    SELECT doc_id, regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS norm
    FROM documents
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow tier — shown for surface parity;
    prefer the pandas variants below)."""

    @udf("string")
    def normalize(s: str) -> str:
        return re.sub(" +", " ", s.strip().lower()) if s is not None else None

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", normalize("text").alias("norm"))


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 4) AS net_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Series→Series pandas UDF over Arrow batches — the
    correct tier when Python is unavoidable (~10-100× the row UDF)."""

    @pandas_udf("double")
    def net_price(ext: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        # explicit half-up: pandas .round is half-even, SQL ROUND is not
        import numpy as np

        return np.floor(ext * (1 - disc) * (1 + tax) * 10000 + 0.5) / 10000

    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount", "l_tax").alias("net_price"),
    )


@register(
    "udaf_pandas_grouped",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: quantity-weighted mean price."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return round(float((price * qty).sum() / qty.sum()), 4)

    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@register(
    "udtf_apply_in_pandas",
    oracle="""
    SELECT event_id, user_id,
           ROUND((value - AVG(value) OVER w) / stddev_samp(value) OVER w, 4) AS z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score normalize per user (1 group → n
    rows). pandas std(ddof=1) ≡ stddev_samp."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["value"]
        z = (v - v.mean()) / v.std(ddof=1)
        # sign-aware half-away rounding: pandas .round is half-even, SQL
        # ROUND is half away from zero — z-scores are signed, so the
        # half-up floor trick needs the sign factored out
        z = np.sign(z) * np.floor(np.abs(z) * 10000 + 0.5) / 10000
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z": z}
        )

    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").applyInPandas(
        zscore, "event_id long, user_id long, z double"
    )


@register("udtf_map_in_pandas")  # rows-only: partition-wise, order-dependent
def udtf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise mapInPandas (n→m rows): batch-filter + derive — the
    shape used for multimodal decode (operators/multimodal.py)."""

    def expensive_rows(batches):
        for pdf in batches:
            out = pdf[pdf["value"] > 100.0].copy()
            out["value_sq"] = out["value"] ** 2
            yield out[["event_id", "user_id", "value_sq"]]

    e = table(spark, sf_dir, "events")
    return e.mapInPandas(expensive_rows, "event_id long, user_id long, value_sq double")


@register(
    "udtf_sql",
    oracle="""
    SELECT doc_id, word, CAST(length(word) AS INTEGER) AS wlen
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 100)
    WHERE word <> ''
    """,
)
def udtf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark ≥3.5) in a LATERAL join: text → (word, len)."""

    @udtf(returnType="word string, wlen int")
    class SplitWords:
        def eval(self, text: str):
            if text:
                for w in text.split(" "):
                    if w:
                        yield w, len(w)

    spark.udtf.register("split_words", SplitWords)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.word, t.wlen
        FROM documents d, LATERAL split_words(d.text) t
        WHERE d.doc_id < 100
        """
    )


@register(
    "udf_pandas_iter",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) - 1000.0, 4) AS adj_price
    FROM lineitem
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (Iterator[Series] → Iterator[Series]):
    the per-worker expensive-init amortization pattern — the 'model' (here
    a constant bias standing in for a loaded tokenizer/ONNX session) is
    built ONCE per Python worker, then applied across every Arrow batch
    that worker sees, instead of once per batch as a plain SCALAR pandas
    UDF would."""
    @pandas_udf("double")
    def adj(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        bias = 1000.0  # stand-in for expensive one-time init per worker
        for s in batches:
            yield s - bias

    li = table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(adj(net), 4).alias("adj_price"),
    )


# --- Python UDTF (Spark 3.5+/4 table function surface) -----------------------
@register(
    "udtf_python_lateral",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    p AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS piece
      FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)
    )
    SELECT doc_id, COUNT(*) AS n_pieces,
           arg_min(piece, pos) AS first_piece,
           arg_max(piece, pos) AS last_piece
    FROM p GROUP BY doc_id
    """,
)
def udtf_python_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (`@udtf`) applied LATERAL per input row — the Spark
    3.5+/4 table-function surface that completes §2.10 (scalar, pandas,
    grouped, map-partitions, SQL UDTFs were waves 1-2). The UDTF
    tokenizes each document into (pos, piece) rows; a downstream agg
    keeps the checked output small.

    Slow-path disclosure (same policy as `udf_python_scalar`): a Python
    UDTF is row-at-a-time through the Python worker — for tokenization
    the production path is the `split`+`posexplode` Column form
    (`str_split_explode`). A UDTF earns its cost only when the
    row-expansion logic genuinely needs Python (stateful parsers,
    third-party libs); the lateral-join plumbing shown here is identical
    then."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, piece string")
    class SplitWords:
        def eval(self, text: str):
            i = 0
            for w in (text or "").split(" "):
                if w:
                    yield i, w
                    i += 1

    spark.udtf.register("wave7_split_words", SplitWords)
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("wave7_docs")
    pieces = spark.sql(
        "SELECT doc_id, f.pos, f.piece "
        "FROM wave7_docs, LATERAL wave7_split_words(text) f"
    )
    return pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.min_by("piece", "pos").alias("first_piece"),
        F.max_by("piece", "pos").alias("last_piece"),
    )


@register(
    "udf_sql_function",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
      FROM lineitem WHERE l_quantity >= 30
    )
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(charged), 2) AS total_charged
    FROM t GROUP BY l_returnflag
    """,
)
def udf_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined function (CREATE FUNCTION ... RETURN, Spark 3.5+/4):
    business logic shared across queries WITHOUT leaving Catalyst — the
    function body is INLINED into the plan, so unlike every Python UDF
    tier (§2.10) it costs nothing: codegen, pushdown, and constant
    folding see straight through it. The right tool whenever the logic
    is expressible in SQL — the Python ladder exists for when it isn't.
    The oracle states the inlined form, pinning the inlining semantics."""
    _register_tpch_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION w8_charged(
          p DOUBLE, d DOUBLE, t DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n,
               ROUND(SUM(w8_charged(l_extendedprice, l_discount, l_tax)), 2)
                 AS total_charged
        FROM w8_lineitem WHERE l_quantity >= 30
        GROUP BY l_returnflag
        """
    )


# --- Arrow-optimized scalar UDF ----------------------------------------------
@register(
    "udf_arrow_optimized",
    oracle="""
    SELECT event_id,
           ROUND(value * 1.1 + CAST(length(event_type) AS DOUBLE), 4) AS adj
    FROM events WHERE event_id % 10 = 0
    """,
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`@udf(useArrow=True)`, Spark 4): the
    row-at-a-time API with Arrow-batched transport — ~2-5× over pickled
    UDFs with zero signature change, completing the §2.10 ladder:
    python scalar (pickled) → THIS (arrow transport) → pandas_udf
    (vectorized compute) → built-in Columns (JVM codegen, the real
    answer for this arithmetic — same disclosure as `udf_python_scalar`).
    """
    from pyspark.sql.functions import udf

    @udf("double", useArrow=True)
    def adjust(value: float, etype: str) -> float:
        return round(value * 1.1 + float(len(etype)), 4)

    e = table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    return e.select(
        "event_id", adjust(F.col("value"), F.col("event_type")).alias("adj")
    )
