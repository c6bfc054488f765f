"""Statistical tests and estimators, and disclosure-control audits.

The ``stats_*`` keys are hypothesis tests, confidence intervals and
estimators; the ``privacy_*`` keys audit and protect released data
(k-anonymity, l-diversity, t-closeness, suppression, pseudonymization,
differential privacy).

Integer discipline throughout (SURVEY §5.3): sums of integer-scaled
values accumulate exactly in both engines; the only floats are final
short expressions evaluated identically from the same integers.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..registry import register

# --- statistics --------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "stats_corr_matrix",
    oracle="""
    SELECT p.x, p.y,
           ROUND(CASE p.x || p.y
             WHEN 'l_quantityl_extendedprice' THEN corr(l_quantity, l_extendedprice)
             WHEN 'l_quantityl_discount'      THEN corr(l_quantity, l_discount)
             WHEN 'l_quantityl_tax'           THEN corr(l_quantity, l_tax)
             WHEN 'l_extendedpricel_discount' THEN corr(l_extendedprice, l_discount)
             WHEN 'l_extendedpricel_tax'      THEN corr(l_extendedprice, l_tax)
             WHEN 'l_discountl_tax'           THEN corr(l_discount, l_tax)
           END, 4) + 0 AS r
    FROM lineitem,
         (VALUES ('l_quantity','l_extendedprice'), ('l_quantity','l_discount'),
                 ('l_quantity','l_tax'), ('l_extendedprice','l_discount'),
                 ('l_extendedprice','l_tax'), ('l_discount','l_tax')) AS p(x, y)
    GROUP BY p.x, p.y
    """,
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle) over the fact
    table's numeric measures — the feature-redundancy screen run before
    training-set assembly.

    ONE scan computes all C(4,2) pairs as parallel co-moment aggregates
    (each is a 5-accumulator algebraic agg → map-side partial, one
    1-row exchange); the matrix is then unpivoted driver-free with
    `stack`. At 100 TB this stays a single pass over the corpus —
    the naive per-pair loop would be 6 scans.

    Each correlation is `try_divide(covar_samp, sx*sy)` rather than the
    builtin `F.corr`, which THROWS DIVIDE_BY_ZERO under ANSI when a
    column is constant where DuckDB's corr returns NULL (r7 edge sweep;
    the exact rewrite certified in `stats_spearman_corr`). Each stddev
    conditions on the PARTNER column being non-null so all moments run
    over the same pairwise-complete set DuckDB's corr uses — identical
    to the plain stddev when NULLs are absent, divergent exactly when
    x/y NULLs don't coincide (ADVICE r9 medium; the `agg_stddev_var`
    convention). The n>0 filter mirrors the oracle's GROUP BY over a
    cross join with the empty fact table, which yields zero groups — a
    global Spark agg always emits its one row, so on a zero-row scan
    the stack output is dropped identically."""
    li = table(spark, sf_dir, "lineitem")
    pairs = [
        (x, y) for i, x in enumerate(_CORR_COLS) for y in _CORR_COLS[i + 1 :]
    ]

    def _corr(x: str, y: str):
        sx = F.stddev_samp(F.when(F.col(y).isNotNull(), F.col(x)))
        sy = F.stddev_samp(F.when(F.col(x).isNotNull(), F.col(y)))
        return F.round(F.try_divide(F.covar_samp(x, y), sx * sy), 4) + F.lit(0)

    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[_corr(x, y).alias(f"c{i}") for i, (x, y) in enumerate(pairs)],
    )
    stack = ", ".join(
        f"'{x}', '{y}', c{i}" for i, (x, y) in enumerate(pairs)
    )
    return agg.where(F.col("n") > 0).select(
        F.expr(f"stack({len(pairs)}, {stack}) AS (x, y, r)")
    )


@register(
    "stats_ks_test",
    oracle="""
    WITH s AS (
      SELECT l_extendedprice AS v,
             CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                    AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS grp
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    c AS (
      SELECT v, grp,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY v) AS c0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
               OVER (ORDER BY v) AS c1
      FROM s
    ),
    t AS (
      SELECT CAST(count_if(grp = 0) AS BIGINT) AS n0,
             CAST(count_if(grp = 1) AS BIGINT) AS n1
      FROM s
    )
    SELECT t.n0, t.n1,
           CAST(MAX(ABS(CAST(c0 AS HUGEINT) * t.n1
                        - CAST(c1 AS HUGEINT) * t.n0)) AS BIGINT) AS max_diff,
           CAST((2 * MAX(ABS(CAST(c0 AS HUGEINT) * t.n1
                             - CAST(c1 AS HUGEINT) * t.n0)) * 1000000
                 + CAST(t.n0 AS HUGEINT) * t.n1)
                // (2 * CAST(t.n0 AS HUGEINT) * t.n1) AS BIGINT) AS ks_e6
    FROM c, t GROUP BY t.n0, t.n1
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the two hash
    halves of the price distribution — the distribution-level drift test
    next to `drift_psi` (PSI needs binning; KS is bin-free and catches
    shape shifts PSI's 10 buckets smear out). On an unbiased hash split,
    a tiny D IS the assertion.

    Exact formulation, fully distributed (VERDICT r2 next-#2 closed —
    the r2 version ran a corpus-sized unpartitioned window): D only
    changes at distinct values of v, so ties collapse to per-distinct-
    value group counts before the scan. r11 (guide §1.2/§2.4): the
    prefix_sums mechanism here ran FOUR serial driver jobs
    (localCheckpoint, boundary sample, O(P) subtotal collect, final) —
    at sf0.1 that serial chain, not compute, owned the wall clock. The
    two-phase scan is now fully IN-PLAN, ONE executed job: the range id
    is an equi-width-bin literal over the [min,max] read from the
    PARQUET FOOTERS (driver metadata, no job; stats-less files fall
    back to one min/max aggregation). Monotonicity of the bin id in v
    is all the prefix decomposition needs — bin BALANCE only affects
    parallelism, never correctness, and the window input is
    distinct-VALUE rows, so a value-mass hot spot still collapses to
    one row per price. Per-bin start offsets AND the n0/n1 grand
    totals come from one bounded nbins-row window + broadcast join
    instead of driver collects. The binning exchange is shared by the
    tie-collapse agg, the offsets arm and the in-bin window
    (hashpartitioning(_pid) clusters every downstream key), so the
    whole statistic is one corpus scan over one corpus shuffle. nbins
    derives from defaultParallelism — scale-adaptive, not a local
    constant. D stays the INTEGER max of |c0·n1 − c1·n0|; ks_e6 is the
    exact round-half-up scaled statistic.

    Degenerate-input parity (r9 edge batch, SURVEY §17.1): a NULL price
    is not a sample point (two-sided IS NOT NULL — nullmix mode: Spark
    would otherwise sort the NULL group first where DuckDB cumulates it
    last); on an empty sample GROUP BY(n0, n1) over zero cumulative
    rows emits zero rows, exactly the oracle's empty cross join; and
    with one group empty the scaled DIV's denominator is 0, where
    DuckDB `//` yields NULL — the CASE gate reproduces that NULL."""
    from ..catalog import parquet_column_stats

    li = table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    s = li.filter(F.col("l_extendedprice").isNotNull()).select(
        F.col("l_extendedprice").alias("v"),
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 2).alias(
            "grp"
        ),
    )
    # value-domain bounds from the parquet footers (driver metadata, no
    # job); a stats-less file falls back to one min/max aggregation job
    stats = parquet_column_stats(sf_dir, "lineitem", "l_extendedprice")
    if stats is None:
        row = s.agg(F.min("v"), F.max("v"), F.count(F.lit(1))).collect()[0]
        lo, hi, nrows = row[0], row[1], int(row[2])
    else:
        lo, hi, nrows = stats
    # ~8 bin keys per shuffle partition so the hash spreads evenly
    # (guide §2.5); floor 16 keeps the tiny-cluster edge sane
    nbins = max(spark.sparkContext.defaultParallelism, 2) * 8
    if lo is None or hi is None or hi == lo:
        pid = F.lit(0)
    else:
        width = (float(hi) - float(lo)) / nbins
        pid = F.least(
            F.floor((F.col("v").cast("double") - float(lo)) / width),
            F.lit(nbins - 1),
        ).cast("int")
    sp = s.withColumn("_pid", pid).repartition("_pid")
    # ties collapse: per-distinct-value counts per group (no exchange —
    # _pid is a function of v, so the repartition already clusters v)
    dv = sp.groupBy("_pid", "v").agg(
        F.count_if(F.col("grp") == 0).alias("d0"),
        F.count_if(F.col("grp") == 1).alias("d1"),
    )
    # one window pass over dv yields the in-bin running counts AND the
    # per-bin totals (full-frame second spec, same sort, no new
    # exchange); the tiny offsets arm branches ABOVE the window, so its
    # pruned copy shares the binning exchange + tie-collapse agg
    # byte-for-byte with the main arm (ReusedExchange at runtime — the
    # md5 scan and shuffle run once)
    w_run = Window.partitionBy("_pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_bin = Window.partitionBy("_pid")
    wout = dv.select(
        "_pid",
        F.sum("d0").over(w_run).alias("lc0"),
        F.sum("d1").over(w_run).alias("lc1"),
        F.coalesce(F.sum("d0").over(w_bin), F.lit(0)).alias("t0"),
        F.coalesce(F.sum("d1").over(w_bin), F.lit(0)).alias("t1"),
    )
    # bounded nbins-row offsets scan (allowlisted unpartitioned window:
    # one row per bin, never corpus-sized). The same sorted single
    # partition yields the exclusive start offsets AND the n0/n1 grand
    # totals — no driver collect, no extra exchange.
    offw = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    totw = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        wout.select("_pid", "t0", "t1")
        .distinct()
        .select(
            "_pid",
            F.coalesce(F.sum("t0").over(offw), F.lit(0)).alias("off0"),
            F.coalesce(F.sum("t1").over(offw), F.lit(0)).alias("off1"),
            F.sum("t0").over(totw).alias("n0c"),
            F.sum("t1").over(totw).alias("n1c"),
        )
    )
    c = (
        wout.join(F.broadcast(offs), "_pid")
        .select(
            (F.col("off0") + F.col("lc0")).cast("bigint").alias("c0"),
            (F.col("off1") + F.col("lc1")).cast("bigint").alias("c1"),
            F.col("n0c").alias("n0"),
            F.col("n1c").alias("n1"),
        )
    )
    # r10 (ADVICE r9 low, the r9 hurst/pacf/cusum convention): the
    # cumulative products and the 2·D·1e6 scaled numerator can exceed
    # int64 — max_diff approaches n0·n1, so the scaled numerator
    # 2·D·1e6 + n0·n1 cliffs once n0·n1 > (2^63−1)/(2e6+1) ≈ 4.6e12
    # (~4e6 rows). r11: the width stays a plan-time branch, but the
    # bound is now the FOOTER row count (n0·n1 ≤ nrows²/4, exact and
    # collect-free) — int64 below the cliff (the common case, no
    # decimal tax), decimal(38,0) above it; both paths are exact
    # integer arithmetic producing identical values, so the HUGEINT
    # oracle needs no fork. The final casts stay BIGINT (ks_e6 ≤ 1e6
    # by construction; max_diff representable while n0·n1 < 2^63,
    # documented bound). Degenerate guards moved from Python to SQL
    # with n0/n1 now columns: one-group-empty → CASE yields the NULL
    # DuckDB `// 0` produces; empty sample → GROUP BY over zero rows
    # emits zero rows, exactly the oracle's empty cross join.
    int64_safe = nrows * nrows <= 4 * (((1 << 63) - 1) // 2_000_001)
    cum_t = "bigint" if int64_safe else "decimal(38,0)"
    ks_e6 = F.expr(
        "CASE WHEN n0 = 0 OR n1 = 0 THEN CAST(NULL AS BIGINT) ELSE "
        f"CAST((2 * max_diff_d * 1000000 + CAST(n0 AS {cum_t}) * CAST(n1 AS {cum_t})) DIV"
        f" (2 * CAST(n0 AS {cum_t}) * CAST(n1 AS {cum_t})) AS BIGINT) END"
    )
    return (
        c.groupBy("n0", "n1")
        .agg(
            F.max(
                F.abs(
                    F.col("c0").cast(cum_t) * F.col("n1").cast(cum_t)
                    - F.col("c1").cast(cum_t) * F.col("n0").cast(cum_t)
                )
            ).alias("max_diff_d")
        )
        .select(
            F.col("n0").cast("bigint").alias("n0"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("max_diff_d").cast("bigint").alias("max_diff"),
            ks_e6.alias("ks_e6"),
        )
    )


_MULT = 2654435761  # Knuth multiplicative hash (the same constant as ml._MULT)


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(FLOOR(COALESCE(value, -100) / 100) AS BIGINT) AS vb,
             COUNT(*) AS g
      FROM events GROUP BY 1, 2, 3
    ),
    ks(k) AS (VALUES (2), (5), (10), (20))
    SELECT CAST(ks.k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(count_if(q.g < ks.k) AS BIGINT) AS n_groups_below,
           CAST(COALESCE(SUM(CASE WHEN q.g < ks.k THEN q.g END), 0) AS BIGINT)
             AS n_rows_below,
           CAST(10000 * COALESCE(SUM(CASE WHEN q.g < ks.k THEN q.g END), 0)
                // SUM(q.g) AS BIGINT) AS rows_bp
    FROM q, ks GROUP BY ks.k
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (event_type,
    day, value-bucket): for each k in a threshold grid, how many QI
    groups — and what share of rows — fall below k. Rows in sub-k
    groups are re-identifiable by an adversary holding the QIs; this
    report is the gate before exporting or sharing the table
    [P — Sweeney 2002 model].

    Scale shape: ONE group-size aggregation over the QI tuple (the only
    data-sized shuffle), then a 4-row threshold grid cross-joined onto
    the group-size table (tiny literal side) and a final agg. Integer
    counts and floor-div basis points: hash-exact."""
    e = table(spark, sf_dir, "events")
    q = e.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.coalesce(F.col("value"), F.lit(-100)) / 100)
        .cast("bigint")
        .alias("vb"),
    ).agg(F.count(F.lit(1)).alias("g"))
    ks = spark.createDataFrame([(2,), (5,), (10,), (20,)], "k int")
    return (
        q.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.count_if(F.col("g") < F.col("k")).cast("bigint").alias(
                "n_groups_below"
            ),
            F.coalesce(F.sum(F.when(F.col("g") < F.col("k"), F.col("g"))), F.lit(0))
            .cast("bigint")
            .alias("n_rows_below"),
            F.expr(
                "CAST(10000 * COALESCE(SUM(CASE WHEN g < k THEN g END), 0)"
                " DIV SUM(g) AS BIGINT)"
            ).alias("rows_bp"),
        )
    )


@register(
    "stats_chi2_srm",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT event_type, user_id,
             (user_id * {_MULT}) % 4294967296 % 2 AS arm
      FROM events WHERE user_id IS NOT NULL
    ),
    m AS (
      SELECT event_type,
             count_if(arm = 0) AS na, count_if(arm = 1) AS nb
      FROM a GROUP BY event_type
    )
    SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           CAST(CAST(na - nb AS HUGEINT) * (na - nb) * 1000000 // (na + nb)
                AS BIGINT) AS chi2_e6,
           CAST(na - nb AS HUGEINT) * (na - nb) * 1000000 // (na + nb)
             > 3841459 AS srm_flag
    FROM m
    """,
)
def stats_chi2_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch: users hash-bucket into two arms (the
    assignment an experiment platform would use — multiplicative
    key-hash, reproducible across engines and reruns) and each
    event_type's distinct-user split is χ²-tested against 50/50:
    χ² = (na−nb)²/(na+nb) for two equal-expectation cells. A flagged
    split means the bucketing (or exposure logging) is biased and any
    downstream metric comparison is invalid — this is the FIRST gate
    of A/B analysis, before `agg_welch_ttest` runs [P — standard SRM
    practice]. χ²₍₀.₀₅,1₎ = 3.8415; all-integer e6 scaling keeps the
    flag hash-exact.

    Scale shape: one distinct + one agg on (event_type, user) — the
    distinct and the count ride the same exchange. The χ² numerator
    (na−nb)²·1e6 runs decimal(38,0)/HUGEINT (r10 class audit, the r9
    hurst convention): a GROSS mismatch — one arm empty, the exact
    case this gate exists to flag — makes (na−nb)² ≈ n², which crossed
    int64 past |na−nb| ≈ 3.03e6 users on both engines. chi2_e6 output
    stays BIGINT (≤ 1e6·n, representable to ~9e12 users)."""
    e = table(spark, sf_dir, "events")
    # a NULL user has no arm (nullmix fold, §17.1(b)): filtered
    # two-sided — otherwise the NULL arm's group divides by na+nb=0
    # (DuckDB `//0` NULL, ANSI threw) and Spark's NULL-equal distinct
    # counts a "user" DuckDB's count_if never sees
    a = (
        e.filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            "user_id",
            ((F.col("user_id") * F.lit(_MULT)) % F.lit(4294967296) % 2).alias(
                "arm"
            ),
        )
        .distinct()
    )
    m = a.groupBy("event_type").agg(
        F.count_if(F.col("arm") == 0).cast("bigint").alias("na"),
        F.count_if(F.col("arm") == 1).cast("bigint").alias("nb"),
    )
    chi2 = F.expr(
        "CAST(na - nb AS DECIMAL(38,0)) * (na - nb) * 1000000 DIV (na + nb)"
    )
    return m.select(
        "event_type",
        "na",
        "nb",
        chi2.cast("bigint").alias("chi2_e6"),
        (chi2 > 3841459).alias("srm_flag"),
    )


@register(
    "stats_anova_f",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS grp,
             COUNT(*)::BIGINT AS n,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS s,
             SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)
                 * CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS ss
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS stot,
             CAST(SUM(ss) AS DOUBLE) AS sstot,
             -- grp-ORDERED fold: a plain SUM lets each engine pick its
             -- own 3-term addition order, and the last-ulp difference
             -- survives into the rounded statistic
             list_reduce(
               list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE) ORDER BY grp),
               (a, b) -> a + b) AS sq_over_n
      FROM g
    ),
    m AS (
      SELECT k, nn,
             (sq_over_n - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
              / CAST(nn AS DOUBLE)) / (k - 1) AS msb_raw,
             (sstot - sq_over_n) / (nn - k) AS msw_raw,
             sq_over_n - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
              / CAST(nn AS DOUBLE) AS ssb,
             sstot - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
              / CAST(nn AS DOUBLE) AS sst
      FROM t
    )
    SELECT CAST(k AS INT) AS k, CAST(nn AS BIGINT) AS n,
           ROUND(msb_raw / msw_raw, 4) + 0 AS f_stat,
           CAST(ROUND(10000 * ssb / sst) AS BIGINT) AS eta2_bp
    FROM m
    """,
)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the return-flag price groups — the
    k-group generalization of `agg_welch_ttest` (is ANY group mean
    different?). Sums run in exact integer cents, so the only floats
    are the three final divisions — the same expression order in both
    engines makes the rounded statistic hash-stable (the
    `agg_entropy` float discipline).

    Scale shape: one partial+final agg to per-group (n, Σ, Σ²), then a
    3-row reduce — nothing else touches the data."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    c19 = cents.cast("decimal(19,0)")  # cents² ≤ 1e14·rows: exact in dec38
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).alias("s"),
        F.sum(c19 * c19).alias("ss"),
    )
    term = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("stot"),
        F.sum("ss").cast("double").alias("sstot"),
        # grp-ORDERED fold (array_sort on (grp, term) structs, then a
        # left-to-right aggregate): a plain SUM lets each engine pick
        # its own addition order over the k group terms, and that
        # last-ulp difference survives into the rounded statistic —
        # observed at sf0.1 before this fix
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("grp"), term.alias("v")))
                ),
                lambda x: x["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sq_over_n"),
    )
    ssb = (
        F.col("sq_over_n")
        - F.col("stot").cast("double")
        * F.col("stot").cast("double")
        / F.col("nn").cast("double")
    )
    sst = (
        F.col("sstot")
        - F.col("stot").cast("double")
        * F.col("stot").cast("double")
        / F.col("nn").cast("double")
    )
    # try_divide (r9 edge batch, SURVEY §17.1): a single-group input
    # (one-row/constk) zeroes BOTH df denominators (k-1, nn-k) and the
    # within-group variance, where DuckDB x/0 yields NULL and ANSI
    # threw; identical operand order keeps real-SF values bit-stable.
    msb_raw = F.try_divide(ssb, F.col("k") - 1)
    msw_raw = F.try_divide(
        F.col("sstot") - F.col("sq_over_n"), F.col("nn") - F.col("k")
    )
    return t.select(
        F.col("k").cast("int").alias("k"),
        F.col("nn").cast("bigint").alias("n"),
        (F.round(F.try_divide(msb_raw, msw_raw), 4) + 0).alias("f_stat"),
        F.round(F.try_divide(10000 * ssb, sst)).cast("bigint").alias("eta2_bp"),
    )


@register(
    "privacy_l_diversity",
    oracle="""
    WITH q AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(FLOOR(COALESCE(value, -100) / 100) AS BIGINT) AS vb,
             COUNT(DISTINCT event_type) AS l,
             COUNT(*) AS g
      FROM events GROUP BY 1, 2
    ),
    ls(l_min) AS (VALUES (2), (3), (5))
    SELECT CAST(ls.l_min AS INT) AS l_min,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(count_if(q.l < ls.l_min) AS BIGINT) AS n_groups_below,
           CAST(COALESCE(SUM(CASE WHEN q.l < ls.l_min THEN q.g END), 0)
                AS BIGINT) AS n_rows_below,
           CAST(10000 * COALESCE(SUM(CASE WHEN q.l < ls.l_min THEN q.g END), 0)
                // SUM(q.g) AS BIGINT) AS rows_bp
    FROM q, ls GROUP BY ls.l_min
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the step AFTER `privacy_k_anonymity`: a QI
    group can be large (k-anonymous) yet expose its members anyway if
    every row shares the same SENSITIVE value; l-diversity requires ≥ l
    distinct sensitive values per group [P — Machanavajjhala 2007].
    Here QI = (day, value-bucket), sensitive = event_type; report the
    group and row share below l for a threshold grid.

    Scale shape: ONE (QI → distinct-sensitive-count, size) aggregation
    (count_distinct rides the same shuffle as the size), then the tiny
    broadcast threshold grid + final agg — the `privacy_k_anonymity`
    plan with a distinct-count added."""
    e = table(spark, sf_dir, "events")
    q = e.groupBy(
        F.to_date("ts").alias("day"),
        F.floor(F.coalesce(F.col("value"), F.lit(-100)) / 100)
        .cast("bigint")
        .alias("vb"),
    ).agg(
        F.countDistinct("event_type").alias("l"),
        F.count(F.lit(1)).alias("g"),
    )
    ls = spark.createDataFrame([(2,), (3,), (5,)], "l_min int")
    return (
        q.crossJoin(F.broadcast(ls))
        .groupBy("l_min")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.count_if(F.col("l") < F.col("l_min"))
            .cast("bigint")
            .alias("n_groups_below"),
            F.coalesce(
                F.sum(F.when(F.col("l") < F.col("l_min"), F.col("g"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_rows_below"),
            F.expr(
                "CAST(10000 * COALESCE(SUM(CASE WHEN l < l_min THEN g END), 0)"
                " DIV SUM(g) AS BIGINT)"
            ).alias("rows_bp"),
        )
    )


@register(
    "stats_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT l_extendedprice AS v,
             CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                    AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS grp
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    dv AS (
      SELECT v,
             CAST(count_if(grp = 0) AS BIGINT) AS d0,
             CAST(count_if(grp = 1) AS BIGINT) AS d1
      FROM s GROUP BY v
    ),
    c AS (
      SELECT *,
             SUM(d0) OVER (ORDER BY v) AS c0,
             SUM(d1) OVER (ORDER BY v) AS c1
      FROM dv
    ),
    t AS (
      SELECT CAST(SUM(d0) AS BIGINT) AS n0,
             CAST(SUM(d1) AS BIGINT) AS n1
      FROM dv
    ),
    r AS (  -- 2x-scaled average rank per distinct value:
            -- R2 = 2*(count strictly below) + (tie size) + 1
      SELECT SUM(CAST(d0 AS HUGEINT)
                 * (2 * (c0 + c1 - d0 - d1) + (d0 + d1) + 1)) AS r0_2x_h,
             SUM(CAST(d0 + d1 AS HUGEINT) * (d0 + d1) * (d0 + d1)
                 - (d0 + d1))                                 AS tie_cubes_h
      FROM c
    ),
    u AS (
      SELECT t.n0, t.n1,
             r.r0_2x_h - CAST(t.n0 AS HUGEINT) * (t.n0 + 1) AS u0_h,
             r.tie_cubes_h
      FROM t, r
    )
    SELECT n0, n1,
           CAST(u0_h AS BIGINT)        AS u0_2x,
           CAST(tie_cubes_h AS BIGINT) AS tie_cubes,
           ROUND((CAST(u0_h AS DOUBLE)
                  - CAST(n0 AS DOUBLE) * n1)
                 / (2.0 * sqrt((CAST(n0 AS DOUBLE) * n1 / 12.0)
                    * ((n0 + n1 + 1)
                       - CAST(tie_cubes_h AS DOUBLE)
                         / (CAST(n0 + n1 AS DOUBLE)
                            * (n0 + n1 - 1.0))))), 4) AS z
    FROM u
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two hash halves
    of the price distribution, with the tie-corrected normal
    approximation — the nonparametric two-sample test that sees shifts
    Welch's t misses under heavy tails, completing the family next to
    `agg_welch_ttest` and `stats_ks_test`. On an unbiased split, z ≈ 0
    IS the assertion.

    Exact distributed formulation (the `stats_ks_test` shape): ranks
    only change at distinct values, so aggregate to per-distinct-value
    group counts first (ONE data-sized shuffle), then take cumulative
    counts via the shared ``prefix_sums`` two-phase scan — no
    unpartitioned window. The 2x-scaled average rank
    ``2*below + ties + 1`` keeps every rank sum an exact integer (no
    .5 halves), so U and the tie term are pure integer results; the
    only float is the final one-row z expression, written identically
    in both engines.

    Degenerate-input parity (r9 edge batch, SURVEY §17.1): a NULL price
    is not a sample point (two-sided IS NOT NULL, the `stats_ks_test`
    convention — nullmix mode flips the cumulative ordering otherwise);
    the z divisions use try_divide (all-tied input zeroes the variance:
    DuckDB 0/0 is NULL, ANSI threw); and over an EMPTY sample the
    oracle's aggregate CTEs still cross-join to one all-NULL row — n0/
    n1 are MAX aggregates over the totals columns (r12), so zero rows
    make them NULL rather than 0 the same way."""
    li = table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    s = li.filter(F.col("l_extendedprice").isNotNull()).select(
        F.col("l_extendedprice").alias("v"),
        (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 2).alias(
            "grp"
        ),
    )
    dv = s.groupBy("v").agg(
        F.count_if(F.col("grp") == 0).alias("d0"),
        F.count_if(F.col("grp") == 1).alias("d1"),
    )
    from ..catalog import parquet_column_stats
    from ..functions.distributed import binned_prefix_sums

    # r12 (VERDICT r11 next-#4): the sampler `prefix_sums` ran FOUR
    # serial driver jobs; the in-plan binned scan is ONE executed job —
    # bin-id literals from the parquet-footer [min,max] of
    # l_extendedprice, offsets from a bounded nbins-row window +
    # broadcast join, n0/n1 riding the same broadcast as COLUMNS (the
    # empty-sample NULL literal falls out for free: MAX over zero rows
    # is exactly the oracle's all-NULL cross-join row)
    stats = parquet_column_stats(sf_dir, "lineitem", "l_extendedprice")
    lo = hi = None  # stats-less footer: in-plan broadcast bounds
    if stats is not None and stats[0] is not None and stats[1] is not None:
        lo, hi = stats[0], stats[1]
    p = binned_prefix_sums(
        dv, ["v"], ["d0", "d1"], lo, hi, totals=["d0", "d1"]
    )
    # decimal(38,0) accumulators: d0 * R2 products near N² overflow
    # nothing here, but the SUM over ~N distinct values approaches
    # n0*2N ~ 1e12 at sf0.1 — bigint-safe; decimal guards the 100×
    # case like stats_anova_f
    r = p.select(
        (
            F.col("d0").cast("decimal(38,0)")
            * (
                2 * (F.col("_ps_d0") + F.col("_ps_d1") - F.col("d0") - F.col("d1"))
                + (F.col("d0") + F.col("d1"))
                + 1
            )
        ).alias("rterm"),
        (
            (F.col("d0") + F.col("d1")).cast("decimal(38,0)")
            * (F.col("d0") + F.col("d1"))
            * (F.col("d0") + F.col("d1"))
            - (F.col("d0") + F.col("d1"))
        ).alias("tterm"),
        "_ps_tot_d0",
        "_ps_tot_d1",
    ).agg(
        F.sum("rterm").alias("r0_2x_d"),
        F.sum("tterm").alias("tie_cubes_d"),
        F.max("_ps_tot_d0").alias("n0c"),
        F.max("_ps_tot_d1").alias("n1c"),
    )
    # r10 (ADVICE r9 low, the hurst convention): the rank sums STAY in
    # decimal(38,0)/HUGEINT through the U subtraction — tie_cubes grows
    # as N³ with a dominant tie, so the old intermediate BIGINT cast
    # cliffed near N ≈ 2e6 on both engines; n0(n0+1) is now the exact
    # decimal COLUMN product (r12: n0/n1 are columns off the offsets
    # broadcast, not driver literals — same exact integers). Final
    # output casts remain BIGINT (documented representability bound,
    # the `stats_ks_test` contract).
    dec = "decimal(38,0)"
    n0d = F.col("n0c").cast(dec)
    nD = (F.col("n0c") + F.col("n1c")).cast("double")
    u0 = F.col("r0_2x_d") - n0d * (n0d + 1)
    # empty sample: the oracle's aggregate CTEs cross-join to ONE
    # all-NULL row; MAX over zero rows makes n0/n1 NULL the same way
    return r.select(
        F.col("n0c").cast("bigint").alias("n0"),
        F.col("n1c").cast("bigint").alias("n1"),
        u0.cast("bigint").alias("u0_2x"),
        F.col("tie_cubes_d").cast("bigint").alias("tie_cubes"),
        F.round(
            F.try_divide(
                u0.cast("double")
                - F.col("n0c").cast("double") * F.col("n1c"),
                2.0
                * F.sqrt(
                    (F.col("n0c").cast("double") * F.col("n1c") / 12.0)
                    * (
                        (nD + 1)
                        - F.try_divide(
                            F.col("tie_cubes_d").cast("double"),
                            nD * (nD - 1.0),
                        )
                    )
                ),
            ),
            4,
        ).alias("z"),
    )


@register(
    "privacy_dp_counts",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events GROUP BY event_type
    ),
    u AS (  -- seeded uniform in (-0.5, 0.5): never exactly ±0.5, so
            -- the Laplace inverse-CDF below never hits ln(0)
      SELECT *,
             ((CAST(ascii(substr(event_type, 1, 1)) AS BIGINT) * 100
               + length(event_type)) * {_MULT}) % 4294967296 AS m
      FROM g
    )
    SELECT event_type, n_true,
           n_true * 10000
             + CAST(FLOOR(
                 -sign((m + 0.5) / 4294967296.0 - 0.5)
                 * ln(1.0 - 2.0 * abs((m + 0.5) / 4294967296.0 - 0.5))
                 * 10000) AS BIGINT)          AS noisy_e4,
           1.0                                AS epsilon
    FROM u
    """,
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release via the Laplace mechanism
    (ε=1, sensitivity 1 ⇒ scale b=1): per-category noisy counts, the
    export step a privacy review demands AFTER `privacy_k_anonymity` /
    `privacy_l_diversity` pass — audits bound re-identification of the
    rows you keep; DP bounds what the released AGGREGATES leak.

    The Laplace draw is inverse-CDF over a SEEDED hash-uniform
    (``u ∈ (−0.5, 0.5)``, ``noise = −b·sign(u)·ln(1−2|u|)``) so the
    oracle replays it exactly — the same determinism-for-testability
    trade every `sample_*` key makes, disclosed: a production release
    draws u from a CSPRNG (swap one expression) and publishes ONLY the
    noisy column. Plan: one partial+final count agg; the noise is
    row-local arithmetic on the tiny category table. e4-scaled integer
    output keeps the hash check exact."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    m = (
        (F.ascii(F.substring("event_type", 1, 1)).cast("bigint") * 100
         + F.length("event_type")) * _MULT
    ) % 4294967296
    u = (m + 0.5) / 4294967296.0 - 0.5
    noise = -F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))
    return g.select(
        "event_type",
        "n_true",
        (F.col("n_true") * 10000 + F.floor(noise * 10000).cast("bigint")).alias(
            "noisy_e4"
        ),
        F.lit(1.0).alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# stats_hill_tail_index
# ---------------------------------------------------------------------------
_HILL_K = 200


@register(
    "stats_hill_tail_index",
    oracle=f"""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY FLOOR(l_extendedprice * 100) DESC,
                        l_orderkey * 10 + l_linenumber
             ) AS rn
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    topk AS (SELECT * FROM v WHERE rn <= {_HILL_K + 1}),
    xk AS (
      SELECT flag, MAX(CASE WHEN rn = {_HILL_K + 1} THEN cents END) AS kth
      FROM topk GROUP BY flag
    )
    SELECT t.flag,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(MAX(x.kth) AS BIGINT) AS xk_cents,
           ROUND(COUNT(*) / SUM(ln(t.cents) - ln(x.kth)), 4) AS alpha
    FROM topk t JOIN xk x ON t.flag = x.flag
    WHERE t.rn <= {_HILL_K}
    GROUP BY t.flag
    """,
)
def stats_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index from the top-k order
    statistics [P — Hill 1975]: alpha = k / sum(ln(x_i) - ln(x_k)),
    i in top-k above the (k+1)-th value. Alpha prices tail heaviness —
    alpha <= 2 means infinite variance, the number that decides
    winsorization caps (`agg_winsorized_mean`) and whether mean-based
    metrics are usable at all. The per-group top-(k+1) rides a
    row_number window that Spark prunes to WindowGroupLimit
    (per-partition top-k before the group exchange — the corpus never
    globally sorts); the estimator itself is arithmetic on 3x201 rows.
    Logs are taken on INTEGER cents (no float-boundary bucketing);
    the one float sum spans 200 terms and is rounded at 4 (the
    `agg_welch_ttest` discipline).

    Degenerate parity (r9 edge batch, SURVEY §17.1): a NULL price is
    not a sample point and a NULL flag is not a group (two-sided IS
    NOT NULL, nullmix mode — the oracle's inner equi-join would drop
    the NULL-flag group that the engine's left join keeps); a group
    with ≤ k rows has no (k+1)-th order statistic, and the oracle's
    grouped MAX keeps that flag with a NULL x_k — mirrored by the LEFT
    join (identical to the inner join at real SFs, where every flag has
    ≥ k+1 rows); an all-tied tail zeroes the log sum, where DuckDB x/0
    is NULL — try_divide."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    )
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
    )
    w = Window.partitionBy("flag").orderBy(F.desc("cents"), "uid")
    topk = v.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _HILL_K + 1
    )
    xk = topk.filter(F.col("rn") == _HILL_K + 1).select(
        "flag", F.col("cents").alias("kth")
    )
    return (
        topk.filter(F.col("rn") <= _HILL_K)
        .join(xk, "flag", "left")
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.max("kth").cast("bigint").alias("xk_cents"),
            F.round(
                F.try_divide(
                    F.count(F.lit(1)),
                    F.sum(F.log(F.col("cents")) - F.log(F.col("kth"))),
                ),
                4,
            ).alias("alpha"),
        )
    )


# ---------------------------------------------------------------------------
# stats_benjamini_hochberg
# ---------------------------------------------------------------------------
_BH_Q_NUM, _BH_Q_DEN = 1, 10  # FDR level q = 0.10
# Abramowitz & Stegun 26.2.17 normal-tail polynomial (both engines run
# the IDENTICAL double arithmetic; p is floored to e6 integers before
# any comparison so ulp noise cannot reorder the ranking)
_AS_COEF = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)


def _p_e6_sql(z: str) -> str:
    """Two-sided normal p-value as an e6 integer, A&S 26.2.17."""
    t = f"(1.0 / (1.0 + 0.2316419 * abs({z})))"
    poly = (
        f"({_AS_COEF[0]} * {t} + {_AS_COEF[1]} * pow({t}, 2)"
        f" + {_AS_COEF[2]} * pow({t}, 3) + {_AS_COEF[3]} * pow({t}, 4)"
        f" + {_AS_COEF[4]} * pow({t}, 5))"
    )
    phi = f"(exp(-{z} * {z} / 2.0) / sqrt(2.0 * pi()))"
    return f"CAST(FLOOR(2.0 * {phi} * {poly} * 1000000) AS BIGINT)"


@register(
    "stats_benjamini_hochberg",
    oracle=f"""
    WITH g AS (
      SELECT user_id % 50 AS cell, COUNT(*) AS n, AVG(value) AS mean
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    gl AS (
      SELECT AVG(value) AS gmean, var_samp(value) AS gvar
      FROM events WHERE value IS NOT NULL
    ),
    z AS (
      SELECT cell, n,
             (mean - gmean) / sqrt(gvar / n) AS zval
      FROM g, gl
    ),  -- zero-variance corpus: /0 is NULL here, try_divide engine-side
    p AS (
      SELECT cell, {_p_e6_sql('zval')} AS p_e6 FROM z
    ),
    ranked AS (
      SELECT cell, p_e6,
             -- NULLS LAST pinned: an undefined p (zero-variance corpus)
             -- ranks after every real p on BOTH engines
             ROW_NUMBER() OVER (ORDER BY p_e6 NULLS LAST, cell) AS i,
             COUNT(*) OVER () AS m
      FROM p
    ),
    crit AS (  -- BH: largest i with p_(i) <= i*q/m  (integer compare)
      SELECT MAX(CASE WHEN p_e6 * m * {_BH_Q_DEN} <= i * {_BH_Q_NUM} * 1000000
                 THEN i ELSE 0 END) AS k,
             MAX(m) AS m
      FROM ranked
    )
    SELECT CAST(c.m AS BIGINT) AS n_tests,
           CAST(c.k AS BIGINT) AS n_rejected_bh,
           CAST(COUNT(CASE WHEN r.p_e6 * c.m * {_BH_Q_DEN}
                           <= {_BH_Q_NUM} * 1000000 THEN 1 END) AS BIGINT)
             AS n_rejected_bonferroni,
           CAST(MIN(CASE WHEN r.i = c.k THEN r.p_e6 END) AS BIGINT)
             AS bh_cutoff_p_e6
    FROM ranked r, crit c
    GROUP BY c.m, c.k
    """,
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control [P — 1995] over a battery of 50
    simultaneous cell-vs-global mean tests: rank the p-values, find the
    largest i with p_(i) <= i·q/m, reject everything up to it — the
    multiple-testing step a metrics platform needs the moment it runs
    `agg_welch_ttest` on 50 metrics at once (per-test alpha would
    produce ~2.5 false discoveries per sweep; Bonferroni, reported
    alongside, over-corrects).

    One grouped moment pass + a 1-row global-moment broadcast; z, the
    normal tail (A&S 26.2.17 polynomial — identical double arithmetic
    in both engines), and the e6-integer p-values are row-local on the
    50-cell table; the BH step is one window + one conditional agg on
    50 rows. All comparisons happen on INTEGER e6 p-values — ulp noise
    cannot reorder the ranking or flip a rejection."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = e.groupBy((F.col("user_id") % 50).alias("cell")).agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean")
    )
    glob = e.agg(
        F.avg("value").alias("gmean"), F.var_samp("value").alias("gvar")
    )
    # try_divide (r9 edge batch): a zero-variance corpus (constk) makes
    # the z denominator 0 with a 0 numerator — DuckDB 0/0 is NULL, ANSI
    # threw; p stays NULL and the pinned NULLS LAST rank keeps the
    # undefined tests after every real one on both engines.
    z = g.crossJoin(F.broadcast(glob)).select(
        "cell",
        F.try_divide(
            F.col("mean") - F.col("gmean"), F.sqrt(F.col("gvar") / F.col("n"))
        ).alias("zval"),
    )
    p = z.select("cell", F.expr(_p_e6_sql("zval")).alias("p_e6"))
    # the test battery is 50 rows by construction (user_id % 50) — an
    # ordered window over it is bounded, not data-sized
    wrank = Window.orderBy(F.asc_nulls_last("p_e6"), "cell")
    m_df = p.agg(F.count(F.lit(1)).alias("m"))
    # 50-row frame feeding two consumers (crit + final report) —
    # checkpoint so the corpus moment pass runs once, not per branch
    ranked = (
        p.select("cell", "p_e6", F.row_number().over(wrank).alias("i"))
        .crossJoin(F.broadcast(m_df))  # 50 x 1 rows
        .localCheckpoint(eager=False)
    )
    crit = ranked.agg(
        F.max(
            F.when(
                F.col("p_e6") * F.col("m") * _BH_Q_DEN
                <= F.col("i") * _BH_Q_NUM * 1000000,
                F.col("i"),
            ).otherwise(0)
        ).alias("k"),
        F.max("m").alias("m"),
    )
    return (
        ranked.crossJoin(F.broadcast(crit.withColumnRenamed("m", "mm")))
        .groupBy("mm", "k")
        .agg(
            F.count_if(
                F.col("p_e6") * F.col("mm") * _BH_Q_DEN <= _BH_Q_NUM * 1000000
            ).alias("n_rejected_bonferroni"),
            F.min(F.when(F.col("i") == F.col("k"), F.col("p_e6"))).alias(
                "bh_cutoff_p_e6"
            ),
        )
        .select(
            F.col("mm").cast("bigint").alias("n_tests"),
            F.col("k").cast("bigint").alias("n_rejected_bh"),
            F.col("n_rejected_bonferroni").cast("bigint"),
            F.col("bh_cutoff_p_e6").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# stats_ratio_delta_method
# ---------------------------------------------------------------------------
@register(
    "stats_ratio_delta_method",
    oracle="""
    WITH u AS (
      SELECT user_id, SUM(value) AS x, CAST(COUNT(*) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    m AS (
      SELECT COUNT(*) AS n, AVG(x) AS mx, AVG(y) AS my,
             var_samp(x) AS vx, var_samp(y) AS vy, covar_samp(x, y) AS cxy,
             AVG(x / y) AS naive_mean, var_samp(x / y) AS naive_var
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(mx / my, 4) AS ratio,
           ROUND(sqrt((vx + pow(mx / my, 2) * vy
                       - 2 * (mx / my) * cxy) / n) / my, 6) AS se_delta,
           ROUND(naive_mean, 4) AS naive_ratio_of_means,
           ROUND(sqrt(naive_var / n), 6) AS naive_se
    FROM m
    """,
)
def stats_ratio_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of a RATIO metric (value per event, computed as
    Σx/Σy over per-user totals) via the delta method [P — the standard
    ratio-metric variance: Var(X̄/Ȳ) ≈ (σx² + R²σy² − 2Rσxy)/(n·μy²)].
    Ratio metrics (CTR, revenue-per-session) are where experimentation
    platforms go wrong first: the naive approach — average each user's
    own ratio and take ITS SE — answers a different question (mean of
    ratios ≠ ratio of means) and both numbers are reported side by side
    so the divergence is visible. Pairs with `events_power_analysis`
    (which sizes mean metrics; ratio metrics need THIS variance).

    One user-keyed aggregation, one 1-row moment pass over the user
    table (count/avg/var/cov partials) — the whole analysis costs two
    bounded aggregations; `agg_welch_ttest` rounding discipline."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u = e.groupBy("user_id").agg(
        F.sum("value").alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
        F.avg(F.col("x") / F.col("y")).alias("naive_mean"),
        F.var_samp(F.col("x") / F.col("y")).alias("naive_var"),
    )
    r = F.col("mx") / F.col("my")
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(r, 4).alias("ratio"),
        F.round(
            F.sqrt(
                (
                    F.col("vx")
                    + F.pow(r, 2) * F.col("vy")
                    - 2 * r * F.col("cxy")
                )
                / F.col("n")
            )
            / F.col("my"),
            6,
        ).alias("se_delta"),
        F.round("naive_mean", 4).alias("naive_ratio_of_means"),
        F.round(F.sqrt(F.col("naive_var") / F.col("n")), 6).alias("naive_se"),
    )


# ---------------------------------------------------------------------------
# stats_spearman_corr
# ---------------------------------------------------------------------------
@register(
    "stats_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
               AS rq,
             RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
               AS rp
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        AND l_extendedprice IS NOT NULL
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(rq, rp), 4) AS spearman_rho
    FROM r GROUP BY grp ORDER BY grp
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag, with the standard average-rank tie correction:
    fractional rank = min-rank + (ties-1)/2, then Pearson correlation
    of the two rank columns. Monotone-but-nonlinear relationships that
    Pearson understates show up here at full strength.

    `l_returnflag` has THREE values, so a plain
    `Window.partitionBy(grp)` rank funnels a third of the corpus
    through one task each — the 8× scale probe measured that shape at
    7.2 (near data-linear on fixed cores). Ranks therefore come from
    `functions.distributed.binned_grouped_rank` (r12, VERDICT r11
    next-#4: the sampler `grouped_rank` ran a localCheckpoint +
    boundary sample + P·G offset collect per call — 6 serial driver
    jobs for the two ranks; the in-plan binned form is ONE executed
    job, bin-id literals from the parquet-footer [min,max] of each
    rank's leading measure, per-(bin,grp) offsets from a bounded
    window + broadcast join), and
    the average-rank tie correction falls out for free: the MEAN of
    the tied rows' row-numbers IS the fractional rank whatever their
    internal order, computed as one AVG window over (grp, value) —
    a high-cardinality partition key that spreads across the cluster.
    The correlation is the builtin covar_samp/stddev co-moment pair
    divided with try_divide — the builtin `corr` aggregate THROWS under
    ANSI when a rank column is constant (all-tied group), where
    DuckDB's corr returns NULL (r7 edge sweep, const mode)."""
    from ..catalog import parquet_column_stats
    from ..functions.distributed import binned_grouped_rank

    # NULL group keys and NULL measurements have no rank: Spark and
    # DuckDB place NULLs at opposite ends of an ASC rank ordering, so
    # every downstream fractional rank would shift — pinned out
    # two-sided (EDGE_SWEEP_r10 class C)
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isNotNull()
            & F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(F.col("l_returnflag").alias("grp"), "l_quantity", "l_extendedprice")
    )
    def _bounds(col: str):
        st = parquet_column_stats(sf_dir, "lineitem", col)
        if st is None or st[0] is None or st[1] is None:
            return None, None  # stats-less footer: in-plan bounds
        return st[0], st[1]

    lo_q, hi_q = _bounds("l_quantity")
    lo_p, hi_p = _bounds("l_extendedprice")
    r1 = binned_grouped_rank(li, ["grp"], ["l_quantity"], lo_q, hi_q, "rn_q")
    r2 = binned_grouped_rank(
        r1, ["grp"], ["l_extendedprice"], lo_p, hi_p, "rn_p"
    )
    rq = F.avg("rn_q").over(Window.partitionBy("grp", "l_quantity"))
    rp = F.avg("rn_p").over(Window.partitionBy("grp", "l_extendedprice"))
    ranked = r2.select("grp", rq.alias("rq"), rp.alias("rp"))
    return (
        ranked.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # corr as try_divide(covar, sx*sy): Spark's builtin corr
            # THROWS under ANSI when either rank column is constant
            # (all-tied values), where DuckDB's corr returns NULL (r7
            # edge sweep const mode); the co-moment form is the same
            # Welford state, divided NULL-tolerantly
            F.round(
                F.try_divide(
                    F.covar_samp("rq", "rp"),
                    F.stddev_samp("rq") * F.stddev_samp("rp"),
                ),
                4,
            ).alias("spearman_rho"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# stats_levene_test
# ---------------------------------------------------------------------------
@register(
    "stats_levene_test",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, ABS(e.value - m.med) AS z
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n, SUM(z) AS sz, SUM(z * z) AS szz
      FROM z GROUP BY event_type
    ),
    tot AS (
      SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(sz) AS tsz,
             SUM(sz * sz / n) AS sbetween_part,
             SUM(szz - sz * sz / n) AS ss_within
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_total,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(nn - k AS BIGINT) AS df2,
           ROUND(
             ((nn - k) * (sbetween_part - tsz * tsz / nn))
             / ((k - 1) * ss_within), 4
           ) AS levene_w
    FROM tot
    """,
)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-equality test across event types:
    absolute deviations from the per-group MEDIAN (the robust Levene
    center), then the one-way ANOVA F statistic on those deviations —
    W = ((N−k)/(k−1)) · SS_between(z) / SS_within(z). This is the
    gate that decides whether `stats_anova_f` / pooled-variance t-tests
    are trustworthy.

    Exact medians come from one `percentile` aggregate (k rows,
    broadcast back); W assembles from map-side-combinable (n, Σz, Σz²)
    partials and one 1-row total — SS_between = Σ n_j z̄_j² − N z̄² and
    SS_within = Σ(Σz² − (Σz)²/n) expand so no second data pass is
    needed. DuckDB mirrors the identical expansion, so both engines do
    the same float ops in the same order."""
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    n, sz, szz = F.col("n"), F.col("sz"), F.col("szz")
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(n).alias("nn"),
        F.sum(sz).alias("tsz"),
        F.sum(sz * sz / n).alias("sbetween_part"),
        F.sum(szz - sz * sz / n).alias("ss_within"),
    )
    k, nn = F.col("k"), F.col("nn")
    return tot.select(
        k.cast("bigint").alias("k_groups"),
        nn.cast("bigint").alias("n_total"),
        (k - 1).cast("bigint").alias("df1"),
        (nn - k).cast("bigint").alias("df2"),
        F.round(
            # try_divide: k==1 or all singleton groups make the
            # denominator 0 -> W undefined -> NULL, matching DuckDB's
            # NULL-on-zero-divisor division (r7 edge sweep)
            F.try_divide(
                (nn - k)
                * (F.col("sbetween_part") - F.col("tsz") * F.col("tsz") / nn),
                (k - 1) * F.col("ss_within"),
            ),
            4,
        ).alias("levene_w"),
    )


# ---------------------------------------------------------------------------
# privacy_t_closeness
# ---------------------------------------------------------------------------
@register(
    "privacy_t_closeness",
    oracle="""
    WITH q AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(FLOOR(COALESCE(value, -100) / 100) AS BIGINT) AS vb,
             event_type AS s,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    gsz AS (SELECT day, vb, SUM(c) AS ng FROM q GROUP BY day, vb),
    gdist AS (SELECT s, SUM(c) AS cs FROM q GROUP BY s),
    nrow AS (SELECT SUM(c) AS nn FROM q),
    tg AS (
      SELECT g.day, g.vb, g.ng,
             SUM(ABS(q.c * nrow.nn - gdist.cs * g.ng) - gdist.cs * g.ng)
               + g.ng * nrow.nn AS t_num
      FROM q
      JOIN gsz g ON q.day = g.day AND q.vb = g.vb
      JOIN gdist ON q.s = gdist.s
      CROSS JOIN nrow
      GROUP BY g.day, g.vb, g.ng, nrow.nn
    ),
    ts_(t_bp) AS (VALUES (2000), (3500), (5000)),
    audited AS (
      SELECT ts_.t_bp, tg.ng,
             (tg.t_num * 10000 > 2 * ts_.t_bp * tg.ng
                * (SELECT nn FROM nrow)) AS above
      FROM tg CROSS JOIN ts_
    )
    SELECT CAST(t_bp AS INT) AS t_bp,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(count_if(above) AS BIGINT) AS n_groups_above,
           CAST(COALESCE(SUM(CASE WHEN above THEN ng END), 0) AS BIGINT)
             AS n_rows_above,
           CAST(10000 * COALESCE(SUM(CASE WHEN above THEN ng END), 0)
                // SUM(ng) AS BIGINT) AS rows_bp
    FROM audited GROUP BY t_bp ORDER BY t_bp
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder: a QI
    group can be k-anonymous AND l-diverse yet still leak if its
    sensitive-value DISTRIBUTION diverges from the corpus (e.g. a group
    that is 90% 'error' when the corpus is 20%). t-closeness bounds the
    EMD between group and global distributions; for categorical
    attributes EMD = total-variation distance ½Σ|p−P| [P — Li 2007].
    Same QI (day, value-bucket) and sensitive (event_type) as the k / l
    keys, audited at t ∈ {0.20, 0.35, 0.50}.

    The TVD is computed in EXACT integers: ½Σ|c·N − C_s·n|/(n·N), with
    absent-from-group sensitive values folded in via
    Σ_absent C_s·n = n·(N − Σ_present C_s) so only present cells are
    touched; the threshold compare cross-multiplies (t_num·10⁴ >
    2·t_bp·n·N) so NO float ever decides a group (the
    `sample_neyman_allocation` integer discipline). One (QI, s) rollup
    + two bounded sibling aggregates; thresholds are a 3-row literal
    grid (the `privacy_l_diversity` shape)."""
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.floor(F.coalesce(F.col("value"), F.lit(-100)) / 100)
        .cast("bigint")
        .alias("vb"),
        F.col("event_type").alias("s"),
    )
    q = ev.groupBy("day", "vb", "s").agg(F.count(F.lit(1)).alias("c"))
    q = q.localCheckpoint()  # reused by three sibling aggregates
    gsz = q.groupBy("day", "vb").agg(F.sum("c").alias("ng"))
    glob = q.groupBy("s").agg(F.sum("c").alias("cs"))
    nn = q.agg(F.sum("c")).collect()[0][0]
    tg = (
        q.join(gsz, ["day", "vb"])
        .join(F.broadcast(glob), "s")
        .groupBy("day", "vb", "ng")
        .agg(
            (
                F.sum(
                    F.abs(F.col("c") * F.lit(nn) - F.col("cs") * F.col("ng"))
                    - F.col("cs") * F.col("ng")
                )
                + F.first("ng") * F.lit(nn)
            ).alias("t_num")
        )
    )
    thresholds = spark.createDataFrame([(2000,), (3500,), (5000,)], "t_bp int")
    audited = tg.crossJoin(F.broadcast(thresholds)).select(
        "t_bp",
        "ng",
        (
            F.col("t_num") * 10000
            > F.lit(2) * F.col("t_bp") * F.col("ng") * F.lit(nn)
        ).alias("above"),
    )
    return (
        audited.groupBy("t_bp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.col("above").cast("long")).cast("bigint").alias(
                "n_groups_above"
            ),
            F.coalesce(
                F.sum(F.when(F.col("above"), F.col("ng"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_rows_above"),
            (
                F.lit(10000)
                * F.coalesce(F.sum(F.when(F.col("above"), F.col("ng"))), F.lit(0))
                / F.sum("ng")
            )
            .cast("bigint")
            .alias("rows_bp"),
        )
        .orderBy("t_bp")
    )


# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank
# ---------------------------------------------------------------------------
@register(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH pairs AS (
      SELECT user_id,
             AVG(CASE WHEN event_id % 2 = 0 THEN value END) AS x,
             AVG(CASE WHEN event_id % 2 = 1 THEN value END) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    d AS (
      SELECT user_id, ROUND(y - x, 6) AS d
      FROM pairs WHERE x IS NOT NULL AND y IS NOT NULL
        AND ROUND(y - x, 6) <> 0
    ),
    r AS (
      SELECT d,
             RANK() OVER (ORDER BY ABS(d))
               + (COUNT(*) OVER (PARTITION BY ABS(d)) - 1) / 2.0 AS rnk
      FROM d
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN d > 0 THEN rnk ELSE 0 END) AS w_plus,
             SUM(CASE WHEN d < 0 THEN rnk ELSE 0 END) AS w_minus
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(w_plus, 4) AS w_plus,
           ROUND(w_minus, 4) AS w_minus,
           ROUND((w_plus - n * (n + 1) / 4.0)
                 / SQRT(n * (n + 1) * (2 * n + 1) / 24.0), 4) AS z
    FROM agg
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: each user contributes a PAIRED
    observation (mean value over even event_ids vs over odd ones);
    non-zero differences are ranked by |d| with average-rank ties, and
    W⁺ = Σ ranks of positive differences with its large-sample normal
    z. The paired complement to `stats_mann_whitney` (independent
    samples) — 'did the same users shift?' rather than 'do two groups
    differ?'.

    Differences round to 1e-6 BEFORE ranking so a last-ulp divergence
    in the per-user means cannot reorder near-equal |d| between
    engines; the tie-peer count then handles the induced ties
    identically on both sides (the `stats_spearman_corr` discipline).
    Scale shape (VERDICT r5 wrong-#1: the draft ranked the whole pair
    table through one unpartitioned window): collapse to DISTINCT |d|
    values with per-sign counts — every member of a tie group shares
    the average rank cbefore + (cnt+1)/2, so W⁺/W⁻ are closed-form
    folds over the distinct-value table — and get the strictly-below
    cumulative count from
    ``functions.distributed.binned_prefix_sums`` (``exclusive=True``),
    the `ml_eval_auc` machinery (r12, VERDICT r11 next-#4: the sampler
    form ran FOUR serial driver jobs; the in-plan binned scan is ONE
    executed job — |d| is bounded by the parquet-footer
    [0, max(value)−min(value)] envelope, which only needs to be
    MONOTONE-correct, not tight, so footer bounds on the raw value
    column legally bound the derived per-user mean differences; n
    rides the offsets broadcast as a column, COALESCE(,0) keeping the
    committed n_pairs=0 empty semantics). The corpus-sized window is
    per-bin; the only unpartitioned window is the nbins-row offsets
    arm."""
    from ..catalog import parquet_column_stats
    from ..functions.distributed import binned_prefix_sums

    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    pairs = ev.groupBy("user_id").agg(
        F.avg(F.when(F.col("event_id") % 2 == 0, F.col("value"))).alias("x"),
        F.avg(F.when(F.col("event_id") % 2 == 1, F.col("value"))).alias("y"),
    )
    d = (
        pairs.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select(F.round(F.col("y") - F.col("x"), 6).alias("d"))
        .filter(F.col("d") != 0)
    )
    g = d.groupBy(F.abs(F.col("d")).alias("absd")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("d") > 0).cast("bigint")).alias("n_pos"),
        F.sum((F.col("d") < 0).cast("bigint")).alias("n_neg"),
    )
    stats = parquet_column_stats(sf_dir, "events", "value")
    lo = hi = None  # stats-less footer: in-plan broadcast bounds
    if stats is not None and stats[0] is not None and stats[1] is not None:
        lo, hi = 0.0, max(float(stats[1]) - float(stats[0]), 0.0)
    p = binned_prefix_sums(
        g, ["absd"], ["cnt"], lo, hi, exclusive=True, totals=["cnt"]
    )
    # average rank of every member of the |d| tie group (RANK() head
    # cbefore+1 plus (cnt−1)/2) — halves are exact in doubles, so the
    # fold is order-independent
    avg_rnk = F.col("_ps_cnt") + (F.col("cnt") + 1) / F.lit(2.0)
    agg = p.agg(
        F.sum(F.col("n_pos") * avg_rnk).alias("w_plus"),
        F.sum(F.col("n_neg") * avg_rnk).alias("w_minus"),
        F.coalesce(F.max("_ps_tot_cnt"), F.lit(0)).alias("nn"),
    )
    # exact bigint → decimal products in-plan, cast to double with ONE
    # rounding before each exact power-of-two / near-exact division —
    # the same values the old Python-literal fold produced (n(n+1) and
    # n(n+1)(2n+1) are exact in decimal(38,0); the double conversion
    # rounds once, /4.0 is exact, /24.0 matches the oracle's own
    # HUGEINT→DOUBLE path)
    dec = "decimal(38,0)"
    nd = F.col("nn").cast(dec)
    mu = (nd * (nd + 1)).cast("double") / 4.0
    sig2 = (nd * (nd + 1) * (2 * nd + 1)).cast("double") / 24.0
    return agg.select(
        F.col("nn").cast("bigint").alias("n_pairs"),
        F.round("w_plus", 4).alias("w_plus"),
        F.round("w_minus", 4).alias("w_minus"),
        F.round((F.col("w_plus") - mu) / F.sqrt(sig2), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_binomial_ci_wilson
# ---------------------------------------------------------------------------
_Z = 1.96  # 95% normal quantile, fixed literal so both engines agree


@register(
    "stats_binomial_ci_wilson",
    oracle=f"""
    WITH d AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             COUNT(*) AS n,
             count_if(event_type = 'purchase') AS k
      FROM events GROUP BY 1
    )
    SELECT day, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS conversions,
           ROUND(k * 1.0 / n, 4) AS p_hat,
           ROUND((k * 1.0 / n + {_Z} * {_Z} / (2 * n)
                  - {_Z} * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + {_Z} * {_Z} / (4.0 * n * n)))
                 / (1 + {_Z} * {_Z} / n), 4) AS ci_lo,
           ROUND((k * 1.0 / n + {_Z} * {_Z} / (2 * n)
                  + {_Z} * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + {_Z} * {_Z} / (4.0 * n * n)))
                 / (1 + {_Z} * {_Z} / n), 4) AS ci_hi
    FROM d ORDER BY day
    """,
)
def stats_binomial_ci_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-conversion rate with a Wilson 95% score interval —
    the binomial CI that stays inside [0,1] and behaves at small n /
    extreme p where the naive Wald interval collapses; what a metrics
    dashboard should draw around every rate.

    One conditional-count daily aggregate; the interval is closed-form
    scan-local arithmetic on (k, n) — integer inputs, identical float
    expression both engines, z fixed at the 1.96 literal. At 100 TB
    the only shuffle carries one row per (day)."""
    d = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("event_type") == "purchase").alias("k"),
        )
    )
    n, k = F.col("n"), F.col("k")
    p = k * 1.0 / n
    z2 = F.lit(_Z * _Z)
    center = p + z2 / (2 * n)
    half = F.lit(_Z) * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    denom = 1 + z2 / n
    return d.select(
        "day",
        n.cast("bigint").alias("n"),
        k.cast("bigint").alias("conversions"),
        F.round(p, 4).alias("p_hat"),
        F.round((center - half) / denom, 4).alias("ci_lo"),
        F.round((center + half) / denom, 4).alias("ci_hi"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# stats_benford_test
# ---------------------------------------------------------------------------
@register(
    "stats_benford_test",
    oracle="""
    WITH d AS (
      SELECT CAST(FLOOR(o_totalprice
                        / POW(10, FLOOR(LOG10(o_totalprice)))) AS INT)
               AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS nn FROM c)
    SELECT c.digit,
           CAST(c.n AS BIGINT) AS n,
           ROUND(c.n * 1.0 / t.nn, 4) AS observed_share,
           ROUND(LOG10(1 + 1.0 / c.digit), 4) AS benford_share,
           ROUND(POW(c.n * 1.0 / t.nn - LOG10(1 + 1.0 / c.digit), 2)
                 / LOG10(1 + 1.0 / c.digit) * t.nn, 4) AS chi2_term
    FROM c CROSS JOIN t ORDER BY c.digit
    """,
)
def stats_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over order values: the
    observed digit distribution vs Benford's log10(1+1/d) expectation,
    with per-digit χ² contributions (Σ over the 9 rows is the test
    statistic, 8 df) — the classic bulk-data fabrication/fraud screen;
    synthetic uniform-ish prices FAIL it loudly, which is itself the
    demonstration.

    First-digit extraction is scan-local codegen (floor/log10/pow —
    no string casts); one 9-group aggregate + a 1-row total broadcast.
    At 100 TB the shuffle carries 9 rows per partition."""
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.floor(
                F.col("o_totalprice")
                / F.pow(10, F.floor(F.log10("o_totalprice")))
            )
            .cast("int")
            .alias("digit")
        )
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # total via a window over the 9-row group table — a sibling
    # aggregate would re-scan and re-aggregate the whole input
    c = c.withColumn(
        "nn",
        F.sum("n").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    obs = F.col("n") * 1.0 / F.col("nn")
    ben = F.log10(1 + 1.0 / F.col("digit"))
    return (
        c.select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(obs, 4).alias("observed_share"),
            F.round(ben, 4).alias("benford_share"),
            F.round(F.pow(obs - ben, 2) / ben * F.col("nn"), 4).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# stats_runs_test
# ---------------------------------------------------------------------------
@register(
    "stats_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events GROUP BY 1
    ),
    diffs AS (
      SELECT day, rev - LAG(rev) OVER (ORDER BY day) AS d FROM daily
    ),
    signs AS (
      SELECT day, (d > 0) AS up FROM diffs WHERE d IS NOT NULL AND d <> 0
    ),
    flags AS (
      SELECT up,
             CASE WHEN up IS DISTINCT FROM
                       LAG(up) OVER (ORDER BY day)
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    agg AS (
      SELECT COUNT(*) AS n,
             count_if(up) AS n_up,
             count_if(NOT up) AS n_down,
             SUM(new_run) AS runs
      FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_up AS BIGINT) AS n_up,
           CAST(n_down AS BIGINT) AS n_down,
           CAST(runs AS BIGINT) AS runs,
           ROUND(1.0 + 2.0 * n_up * n_down / n, 4) AS expected_runs,
           ROUND((runs - (1.0 + 2.0 * n_up * n_down / n))
                 / SQRT(2.0 * n_up * n_down * (2.0 * n_up * n_down - n)
                        / (n * n * (n - 1.0))), 4) AS z
    FROM agg
    WHERE 2 * n_up * n_down > n  -- validity gate, mirrored engine-side
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue up/down sequence:
    count maximal runs of consecutive same-direction moves and compare
    to the randomness expectation 1 + 2·n₊·n₋/n with its normal
    approximation — too FEW runs means trending, too MANY means
    mean-reverting oscillation; either way the 'independent random
    days' assumption behind naive daily CIs is violated.

    Daily revenue in integer cents (ties excluded exactly, not by
    float luck); the run-boundary flag is one lag window over the
    bounded days table; the test statistic assembles from a 1-row
    aggregate. The oracle uses IS DISTINCT FROM for the first row's
    NULL lag — both engines count the first sign as a new run."""
    from pyspark.sql import Window

    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
    )
    wd = Window.orderBy("day")
    diffs = daily.select(
        "day", (F.col("rev") - F.lag("rev").over(wd)).alias("d")
    )
    signs = diffs.filter(F.col("d").isNotNull() & (F.col("d") != 0)).select(
        "day", (F.col("d") > 0).alias("up")
    )
    flags = signs.select(
        "up",
        F.when(
            ~F.col("up").eqNullSafe(F.lag("up").over(Window.orderBy("day"))),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("up")).alias("n_up"),
        F.count_if(~F.col("up")).alias("n_down"),
        F.sum("new_run").alias("runs"),
    ).filter(
        # test validity gate, mirrored in the oracle (r7 edge sweep):
        # sigma² = 2·n₊·n₋·(2·n₊·n₋−n)/(n²(n−1)) > 0 requires
        # 2·n₊·n₋ > n; below that (zero/one sign, all-same-direction)
        # z is undefined and both engines emit no row
        2 * F.col("n_up") * F.col("n_down") > F.col("n")
    )
    n, nu, nd, r = F.col("n"), F.col("n_up"), F.col("n_down"), F.col("runs")
    mu = 1.0 + 2.0 * nu * nd / n
    sigma = F.sqrt(
        2.0 * nu * nd * (2.0 * nu * nd - n) / (n * n * (n - 1.0))
    )
    return agg.select(
        n.cast("bigint").alias("n"),
        nu.cast("bigint").alias("n_up"),
        nd.cast("bigint").alias("n_down"),
        r.cast("bigint").alias("runs"),
        F.round(mu, 4).alias("expected_runs"),
        F.round((r - mu) / sigma, 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_g_test
# ---------------------------------------------------------------------------
@register(
    "stats_g_test",
    oracle="""
    WITH half AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT h.event_type, h.grp, h.o,
             SUM(h.o) OVER (PARTITION BY h.event_type) AS row_t,
             SUM(h.o) OVER (PARTITION BY h.grp) AS col_t,
             SUM(h.o) OVER () AS nn
      FROM half h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(nn) AS BIGINT) AS n,
           ROUND(2 * SUM(o * LN(o / (row_t * col_t / nn))), 4) AS g_stat,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT grp) - 1) AS BIGINT) AS df
    FROM margins
    """,
)
def stats_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence between event type and a user-parity
    split: G = 2·Σ O·ln(O/E) over the contingency cells with
    E = row·col/N — the log-likelihood-ratio alternative to Pearson's
    χ² (`stats_chi2_srm`), preferred when counts are small or when
    tests must ADD across data partitions (G is additive; χ² is not —
    the property that matters when each executor tests its shard and
    the driver sums).

    One contingency aggregate (≤ types×2 cells); margins come from
    windows over the bounded cell table — integer observed counts, so
    both engines feed identical doubles into the one ln()."""
    half = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("grp")
    wt = Window.partitionBy()
    m = half.select(
        "event_type",
        "grp",
        "o",
        F.sum("o").over(wr).alias("row_t"),
        F.sum("o").over(wc).alias("col_t"),
        F.sum("o").over(wt).alias("nn"),
    )
    o = F.col("o")
    e = F.col("row_t") * F.col("col_t") / F.col("nn")
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("nn").cast("bigint").alias("n"),
        F.round(2 * F.sum(o * F.log(o / e)), 4).alias("g_stat"),
        (
            (F.count_distinct(F.col("event_type")) - 1)
            * (F.count_distinct(F.col("grp")) - 1)
        )
        .cast("bigint")
        .alias("df"),
    )


# ---------------------------------------------------------------------------
# privacy_pseudonymize
# ---------------------------------------------------------------------------
@register(
    "privacy_pseudonymize",
    oracle="""
    WITH p AS (
      SELECT user_id,
             sha256('corpus-salt-v1|' || CAST(user_id AS VARCHAR)) AS pseudo,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT pseudo) AS BIGINT) AS n_pseudonyms,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           min(pseudo) AS min_pseudo,
           max(pseudo) AS max_pseudo
    FROM p
    """,
)
def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent keyed pseudonymization: user_id ↦ SHA-256 of a salted
    encoding — deterministic, so every table pseudonymized with the
    same salt stays JOINABLE (the property tokenization must preserve),
    while the raw identifier never needs storing. The audit reports
    collision-freeness (n_pseudonyms == n_users — pinned) and event
    conservation, plus hash-range endpoints as the cross-engine
    fingerprint of the mapping itself.

    The hash is scan-local codegen (`sha2`); the audit is one user
    rollup + a 1-row summary with a two-phase distinct. In production
    the salt lives in a secret store and rotates per data-sharing
    agreement — rotating it unlinks all previously shared pseudonyms
    (the GDPR re-identification control), which is why it is a
    parameter here, not a constant folded into the data."""
    p = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.sha2(
                F.concat(F.lit("corpus-salt-v1|"), F.col("user_id").cast("string")),
                256,
            ).alias("pseudo"),
        )
    )
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count_distinct(F.col("pseudo")).cast("bigint").alias("n_pseudonyms"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("pseudo").alias("min_pseudo"),
        F.max("pseudo").alias("max_pseudo"),
    )


# ---------------------------------------------------------------------------
# stats_cohens_d
# ---------------------------------------------------------------------------
@register(
    "stats_cohens_d",
    oracle="""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, SUM(value) AS s,
             SUM(value * value) AS ss
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS na, b.n AS nb,
             a.s / a.n AS ma, b.s / b.n AS mb,
             (a.ss - a.s * a.s / a.n) / (a.n - 1) AS va,
             (b.ss - b.s * b.s / b.n) / (b.n - 1) AS vb
      FROM g a JOIN g b ON a.event_type < b.event_type
    )
    SELECT type_a, type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ma - mb)
                 / SQRT(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)), 4)
             + 0 AS cohens_d,
           ROUND(((ma - mb)
                  / SQRT(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)))
                 * (1 - 3.0 / (4 * (na + nb) - 9)), 4) + 0 AS hedges_g
    FROM pairs ORDER BY type_a, type_b
    """,
)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for every event-type pair: Cohen's d
    (mean difference over pooled SD) and Hedges' g (the small-sample
    bias correction ×(1 − 3/(4N−9))) — the 'is it MEANINGFUL?' number
    that belongs next to every `agg_welch_ttest` p-value; at corpus
    scale everything is significant, only effect sizes rank what
    matters.

    One pass of combinable per-group (n, Σx, Σx²) partials; the pair
    table is k(k−1)/2 rows of the k-row group table (self-join on the
    bounded aggregate, broadcast); the expansion-form variance keeps
    both engines' float ops identical (`stats_levene_test`
    discipline). `+ 0` canonicalizes near-zero d."""
    g = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ss"),
        )
    )
    # try_divide on the sample variances and the pooled-SD ratio: a
    # singleton group or identical groups leave d undefined -> NULL,
    # matching DuckDB's NULL-on-zero-divisor division (r7 edge sweep)
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        (F.col("s") / F.col("n")).alias("ma"),
        F.try_divide(
            F.col("ss") - F.col("s") * F.col("s") / F.col("n"), F.col("n") - 1
        ).alias("va"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        (F.col("s") / F.col("n")).alias("mb"),
        F.try_divide(
            F.col("ss") - F.col("s") * F.col("s") / F.col("n"), F.col("n") - 1
        ).alias("vb"),
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    na, nb = F.col("na"), F.col("nb")
    pooled = F.sqrt(
        F.try_divide((na - 1) * F.col("va") + (nb - 1) * F.col("vb"), na + nb - 2)
    )
    d = F.try_divide(F.col("ma") - F.col("mb"), pooled)
    corr = 1 - 3.0 / (4 * (na + nb) - 9)
    return pairs.select(
        "type_a",
        "type_b",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        (F.round(d, 4) + F.lit(0)).alias("cohens_d"),
        (F.round(d * corr, 4) + F.lit(0)).alias("hedges_g"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# stats_ols_two_vars
# ---------------------------------------------------------------------------
@register(
    "stats_ols_two_vars",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(l_quantity) AS sx1, SUM(l_discount) AS sx2,
             SUM(l_extendedprice) AS sy,
             SUM(l_quantity * l_quantity) AS sx1x1,
             SUM(l_discount * l_discount) AS sx2x2,
             SUM(l_quantity * l_discount) AS sx1x2,
             SUM(l_quantity * l_extendedprice) AS sx1y,
             SUM(l_discount * l_extendedprice) AS sx2y,
             SUM(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem
    ),
    c AS (
      SELECT n,
             sx1x1 - sx1 * sx1 / n AS s11,
             sx2x2 - sx2 * sx2 / n AS s22,
             sx1x2 - sx1 * sx2 / n AS s12,
             sx1y - sx1 * sy / n AS s1y,
             sx2y - sx2 * sy / n AS s2y,
             syy - sy * sy / n AS syy_c,
             sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
      FROM m
    ),
    b AS (
      SELECT n, syy_c, mx1, mx2, my, s1y, s2y,
             (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
             (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(my - b1 * mx1 - b2 * mx2, 4) AS beta0,
           ROUND(b1, 4) AS beta_qty,
           ROUND(b2, 4) AS beta_discount,
           ROUND((b1 * s1y + b2 * s2y) / syy_c, 4) AS r2
    FROM b
    """,
)
def stats_ols_two_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predictor OLS — extended price regressed on quantity and
    discount — via the closed-form 2×2 normal equations: every term
    (centered moments, Cramer's-rule betas, R² = explained/total SS)
    assembles from ONE pass of map-side-combinable sums. The step up
    from `agg_linreg` (one predictor) that stops short of needing a
    matrix library; beyond ~3 predictors the Gram-partial + driver
    solve pattern (`emb_pca_project`) takes over.

    One 1-row moment aggregate over the corpus — no second pass, no
    collect of anything data-sized; both engines run the identical
    expansion-form float expression (the `stats_levene_test`
    discipline)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("sx1"),
        F.sum(x2).alias("sx2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("sx1x1"),
        F.sum(x2 * x2).alias("sx2x2"),
        F.sum(x1 * x2).alias("sx1x2"),
        F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    c = m.select(
        n,
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n).alias("s11"),
        (F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n).alias("s22"),
        (F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n).alias("s12"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / n).alias("s1y"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / n).alias("s2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("syy_c"),
        (F.col("sx1") / n).alias("mx1"),
        (F.col("sx2") / n).alias("mx2"),
        (F.col("sy") / n).alias("my"),
    )
    # try_divide: a singular normal matrix (constant predictors, n==1)
    # leaves the betas undefined -> NULL, matching DuckDB (r7 edge sweep)
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = F.try_divide(
        F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12"), det
    )
    b2 = F.try_divide(
        F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12"), det
    )
    b = c.select(
        "n", "syy_c", "mx1", "mx2", "my", "s1y", "s2y",
        b1.alias("b1"), b2.alias("b2"),
    )
    return b.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("my") - F.col("b1") * F.col("mx1") - F.col("b2") * F.col("mx2"),
            4,
        ).alias("beta0"),
        F.round("b1", 4).alias("beta_qty"),
        F.round("b2", 4).alias("beta_discount"),
        F.round(
            F.try_divide(
                F.col("b1") * F.col("s1y") + F.col("b2") * F.col("s2y"),
                F.col("syy_c"),
            ),
            4,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# privacy_generalization_ladder
# ---------------------------------------------------------------------------
@register(
    "privacy_generalization_ladder",
    oracle="""
    WITH lv(level, width) AS (VALUES (0, 50), (1, 100), (2, 200), (3, 400)),
    g AS (
      SELECT lv.level, strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
             CAST(FLOOR(COALESCE(e.value, -1000) / lv.width) AS BIGINT) AS vb,
             COUNT(*) AS k
      FROM events e CROSS JOIN lv
      GROUP BY 1, 2, 3
    ),
    mins AS (
      SELECT level, day, MIN(k) AS min_k, COUNT(*) AS n_groups
      FROM g GROUP BY level, day
    ),
    chosen AS (
      SELECT day, MIN(level) AS level
      FROM mins WHERE min_k >= 10 GROUP BY day
    )
    SELECT m.day, CAST(m.level AS INT) AS chosen_level,
           CAST(m.min_k AS BIGINT) AS min_group_size,
           CAST(m.n_groups AS BIGINT) AS n_groups
    FROM mins m JOIN chosen c ON m.day = c.day AND m.level = c.level
    ORDER BY m.day
    """,
)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal k-anonymous generalization: per day, walk the value-
    bucket generalization ladder (width 50 → 100 → 200 → 400) and pick
    the FINEST level whose smallest quasi-identifier group already has
    k ≥ 10 — Sweeney's generalization hierarchies as an optimization,
    not a fixed policy: coarsen exactly as much as required and no
    more (utility), never less (privacy). Completes the privacy family
    as the REMEDIATION step after `privacy_k_anonymity` finds
    violations.

    All four ladder levels ride ONE scan via a 4-row broadcast level
    grid (the `privacy_l_diversity` threshold-grid shape); group sizes
    are one (level, day, bucket) rollup; the per-day argmin level is a
    bounded aggregate over the per-level minima."""
    lv = spark.createDataFrame(
        [(0, 50), (1, 100), (2, 200), (3, 400)], "level int, width int"
    )
    ev = table(spark, sf_dir, "events").select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("value"), F.lit(-1000)).alias("v"),
    )
    g = (
        ev.crossJoin(F.broadcast(lv))
        .groupBy(
            "level",
            "day",
            F.floor(F.col("v") / F.col("width")).cast("bigint").alias("vb"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    mins = g.groupBy("level", "day").agg(
        F.min("k").alias("min_k"), F.count(F.lit(1)).alias("n_groups")
    )
    # per-day argmin level via a window over the bounded 4×days mins
    # table — a filter+groupBy+join re-derives the whole pipeline
    # (the `events_cohort_retention_matrix` lesson)
    wd = Window.partitionBy("day")
    mins = mins.withColumn(
        "chosen",
        F.min(F.when(F.col("min_k") >= 10, F.col("level"))).over(wd),
    )
    return (
        mins.filter(F.col("level") == F.col("chosen"))
        .select(
            "day",
            F.col("level").cast("int").alias("chosen_level"),
            F.col("min_k").cast("bigint").alias("min_group_size"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# stats_jarque_bera
# ---------------------------------------------------------------------------
@register(
    "stats_jarque_bera",
    oracle="""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n, AVG(value) AS mu,
             SUM(value) AS s1, SUM(value * value) AS s2,
             SUM(value * value * value) AS s3,
             SUM(value * value * value * value) AS s4
      FROM events WHERE value IS NOT NULL GROUP BY event_type
      HAVING MIN(value) <> MAX(value)
    ),
    c AS (
      SELECT event_type, n,
             (s2 - s1 * s1 / n) / n AS m2,
             (s3 - 3 * mu * s2 + 3 * mu * mu * s1 - n * mu * mu * mu) / n
               AS m3,
             (s4 - 4 * mu * s3 + 6 * mu * mu * s2 - 4 * mu * mu * mu * s1
              + n * mu * mu * mu * mu) / n AS m4
      FROM m
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(m3 / POW(m2, 1.5), 4) + 0 AS skewness,
           ROUND(m4 / (m2 * m2) - 3, 4) AS excess_kurtosis,
           ROUND(n / 6.0 * (POW(m3 / POW(m2, 1.5), 2)
                 + POW(m4 / (m2 * m2) - 3, 2) / 4), 4) AS jb_stat
    FROM c ORDER BY event_type
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test per event type: JB = n/6·(S² + K²/4)
    from the population skewness S and excess kurtosis K — the gate
    before any normal-theory machinery (`stats_binomial_ci_wilson`
    aside, every z/t interval in §2 assumes approximate normality;
    this key says when that's a lie). JB ~ χ²(2) under the null.

    One pass of raw power sums (Σx…Σx⁴, map-side combinable); central
    moments expand binomially from them with the SAME expression both
    engines (the `stats_levene_test` discipline — engine-native skew/
    kurtosis aggregates differ in estimator convention, so neither is
    used). `+ 0` canonicalizes a symmetric distribution's −0.0 skew.

    Constant groups are gated out two-sided with the EXACT predicate
    `min(value) <> max(value)` (engine filter + oracle HAVING): S and K
    are undefined at zero variance, and the power-sum m2 there is 1-ulp
    cancellation residue that skew/kurt amplify astronomically (r7 edge
    class 7) — an exact constancy test removes the row identically on
    both engines instead of comparing amplified noise. No-op at real
    SFs (every event_type group has distinct values)."""
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("mu"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    ).filter(F.col("vmin") != F.col("vmax"))
    n, mu = F.col("n"), F.col("mu")
    s1, s2, s3, s4 = F.col("s1"), F.col("s2"), F.col("s3"), F.col("s4")
    c = m.select(
        "event_type",
        n,
        ((s2 - s1 * s1 / n) / n).alias("m2"),
        ((s3 - 3 * mu * s2 + 3 * mu * mu * s1 - n * mu * mu * mu) / n).alias("m3"),
        (
            (
                s4
                - 4 * mu * s3
                + 6 * mu * mu * s2
                - 4 * mu * mu * mu * s1
                + n * mu * mu * mu * mu
            )
            / n
        ).alias("m4"),
    )
    # try_divide: a constant group (m2 == 0) leaves S/K undefined -> NULL,
    # matching DuckDB's NULL-on-zero-divisor division (r7 edge sweep)
    skew = F.try_divide(F.col("m3"), F.pow(F.col("m2"), 1.5))
    kurt = F.try_divide(F.col("m4"), F.col("m2") * F.col("m2")) - 3
    return c.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        (F.round(skew, 4) + F.lit(0)).alias("skewness"),
        F.round(kurt, 4).alias("excess_kurtosis"),
        F.round(F.col("n") / 6.0 * (F.pow(skew, 2) + F.pow(kurt, 2) / 4), 4).alias(
            "jb_stat"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stats_bayes_shrunk_rates
# ---------------------------------------------------------------------------
@register(
    "stats_bayes_shrunk_rates",
    oracle="""
    WITH u AS (
      SELECT user_id, COUNT(*) AS n,
             count_if(event_type = 'purchase') AS k
      FROM events GROUP BY user_id
    ),
    prior AS (
      SELECT AVG(k * 1.0 / n) AS mu,
             (SUM((k * 1.0 / n - (SELECT AVG(k * 1.0 / n) FROM u))
                  * (k * 1.0 / n - (SELECT AVG(k * 1.0 / n) FROM u)))
              / (COUNT(*) - 1)) AS v
      FROM u
    ),
    ab AS (
      SELECT mu, v,
             mu * (mu * (1 - mu) / v - 1) AS alpha,
             (1 - mu) * (mu * (1 - mu) / v - 1) AS beta
      FROM prior
    ),
    s AS (
      SELECT u.user_id, u.n, u.k,
             ROUND(u.k * 1.0 / u.n, 4) AS raw_rate,
             ROUND((u.k + ab.alpha) / (u.n + ab.alpha + ab.beta), 4)
               AS shrunk_rate
      FROM u CROSS JOIN ab
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY shrunk_rate DESC, user_id) AS rn
      FROM s
    )
    SELECT user_id, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           raw_rate, shrunk_rate
    FROM r WHERE rn <= 50 ORDER BY shrunk_rate DESC, user_id
    """,
)
def stats_bayes_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates: fit a Beta
    prior by method of moments on the raw rates (α, β from their mean
    and variance), then shrink every user toward it —
    (k+α)/(n+α+β) — so a 1-for-1 user no longer outranks a 95-for-100
    one. THE fix for every 'top converters' leaderboard dominated by
    tiny-n flukes; ranks by the shrunk rate, top-50 reported.

    One user rollup; the prior is a 1-row moment pass over the rollup
    broadcast back (two bounded aggregates, never a second corpus
    scan); top-50 is TakeOrderedAndProject on the rounded shrunk rate
    + id tiebreak."""
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("event_type") == "purchase").alias("k"),
        )
        .localCheckpoint()  # prior pass + scoring pass share one compute
    )
    rate = F.col("k") * 1.0 / F.col("n")
    prior = u.agg(
        F.avg(rate).alias("mu"), F.var_samp(rate).alias("v")
    )
    # method-of-moments factor X = mu(1-mu)/v, NULL when the rate
    # variance is zero or undefined (single user / identical rates) —
    # try_divide matches DuckDB's NULL-on-zero-divisor division; alpha
    # and beta are the oracle's DIRECT forms mu*(X-1) and (1-mu)*(X-1)
    # (the old beta rewrite alpha*(1-mu)/mu divided by a zero mu on an
    # all-miss corpus — r7 edge sweep)
    x_m1 = F.try_divide(F.col("mu") * (1 - F.col("mu")), F.col("v")) - 1
    ab = prior.select(
        (F.col("mu") * x_m1).alias("alpha"),
        ((1 - F.col("mu")) * x_m1).alias("beta"),
    )
    s = u.crossJoin(F.broadcast(ab)).select(
        "user_id",
        "n",
        "k",
        F.round(rate, 4).alias("raw_rate"),
        F.round(
            F.try_divide(
                F.col("k") + F.col("alpha"),
                F.col("n") + F.col("alpha") + F.col("beta"),
            ),
            4,
        ).alias("shrunk_rate"),
    )
    return (
        s.orderBy(F.desc("shrunk_rate"), "user_id")
        .limit(50)
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("k"),
            "raw_rate",
            "shrunk_rate",
        )
        .orderBy(F.desc("shrunk_rate"), "user_id")
    )


# ---------------------------------------------------------------------------
# stats_sprt_early_stop
# ---------------------------------------------------------------------------
_SPRT_LA = math.log(0.25 / 0.20)  # per-hit LLR term
_SPRT_LB = math.log(0.75 / 0.80)  # per-miss LLR term
_SPRT_HI = math.log(19.0)
_SPRT_LO = math.log(1.0 / 19.0)


@register(
    "stats_sprt_early_stop",
    # llr in CLOSED FORM from the integer running totals (h hits in t
    # trials → llr = h·la + (t−h)·lb) with the log constants pinned as
    # shortest-roundtrip literals on BOTH sides — no sequential float
    # accumulation to drift between engines, and the engine side can
    # run it from integer prefix sums
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit,
             ts, event_id
      FROM events
    ),
    r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id) AS t,
             SUM(hit) OVER (ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS h
      FROM s
    ),
    dec AS (
      SELECT t,
             h * {_SPRT_LA!r} + (t - h) * {_SPRT_LB!r} AS llr,
             CASE WHEN h * {_SPRT_LA!r} + (t - h) * {_SPRT_LB!r}
                       >= {_SPRT_HI!r} THEN 'accept_h1'
                  WHEN h * {_SPRT_LA!r} + (t - h) * {_SPRT_LB!r}
                       <= {_SPRT_LO!r} THEN 'accept_h0'
             END AS decision
      FROM r
    )
    SELECT CAST(COALESCE(MAX(t), 0) AS BIGINT) AS n_total,  -- 0 trials, not NULL
           CAST(MIN(CASE WHEN decision IS NOT NULL THEN t END) AS BIGINT)
             AS stopped_at,
           min_by(decision, CASE WHEN decision IS NOT NULL THEN t END)
             AS decision,
           ROUND(min_by(llr, CASE WHEN decision IS NOT NULL THEN t END), 4)
             AS llr_at_stop
    FROM dec
    """,
)
def stats_sprt_early_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT replayed over the event stream: testing
    H0: p(purchase)=0.20 vs H1: p=0.25 at α=β=0.05, the log-likelihood
    ratio random-walks one term per event and the test STOPS the first
    time it exits (ln(1/19), ln(19)) — the sequential machinery that
    lets an A/B platform stop in a fraction of the fixed-horizon
    sample size, with error rates still guaranteed. Reports the
    stopping time, the decision, and the LLR at the boundary.

    The LLR at trial t is a pure function of the integer running
    totals (h hits in t trials → llr = h·la + (t−h)·lb), so the walk
    needs no float accumulation at all: ONE
    `functions.distributed.binned_prefix_sums` pass over (ts,
    event_id) yields h and t (r12, VERDICT r11 next-#4: the sampler
    `prefix_sums` ran FOUR serial driver jobs; the in-plan binned scan
    is ONE executed job — bin-id literals from the parquet-footer
    [min,max] of `ts`, offsets from a bounded nbins-row window +
    broadcast join, and the grand total riding the same broadcast as a
    column; COALESCE(,0) on it reproduces the oracle's 0-trials-not-
    NULL empty semantics), the closed-form llr and boundary test run
    in codegen, and the first exit is a conditional MIN — no
    iteration, no driver loop, no single-task sort."""
    import datetime

    from ..catalog import parquet_column_stats
    from ..functions.distributed import binned_prefix_sums

    s = (
        table(spark, sf_dir, "events")
        .select(
            "ts",
            "event_id",
            (F.col("event_type") == "purchase").cast("int").alias("hit"),
        )
        .withColumn("one", F.lit(1))
    )
    stats = parquet_column_stats(sf_dir, "events", "ts")
    lo = hi = None  # stats-less/odd-typed footer: in-plan broadcast bounds
    if stats is not None and isinstance(stats[0], datetime.datetime):
        lo, hi = stats[0], stats[1]
    p = binned_prefix_sums(
        s, ["ts", "event_id"], ["hit", "one"], lo, hi, totals=["one"]
    )
    llr = F.col("_ps_hit") * F.lit(_SPRT_LA) + (
        F.col("_ps_one") - F.col("_ps_hit")
    ) * F.lit(_SPRT_LB)
    dec = p.select(
        F.col("_ps_one").alias("t"),
        F.col("_ps_tot_one").alias("nt"),
        llr.alias("llr"),
        F.when(llr >= _SPRT_HI, F.lit("accept_h1"))
        .when(llr <= _SPRT_LO, F.lit("accept_h0"))
        .alias("decision"),
    )
    d = F.col("decision")
    # min_by on the FIRST decided t: a plain MIN over decided rows
    # returns the walk's deepest excursion, not the boundary value —
    # the bug the independent python-replay pin caught
    t_decided = F.when(d.isNotNull(), F.col("t"))
    return dec.agg(
        F.coalesce(F.max("nt"), F.lit(0)).cast("bigint").alias("n_total"),
        F.min(t_decided).cast("bigint").alias("stopped_at"),
        F.min_by(d, t_decided).alias("decision"),
        F.round(F.min_by(F.col("llr"), t_decided), 4).alias("llr_at_stop"),
    )


# ---------------------------------------------------------------------------
# stats_nn_matching
# ---------------------------------------------------------------------------
@register(
    "stats_nn_matching",
    oracle="""
    WITH u AS (
      SELECT user_id, (user_id % 2 = 0) AS treated,
             ROUND(AVG(value), 6) AS score,
             ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END), 4)
               AS outcome
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    uu AS (SELECT * FROM u WHERE outcome IS NOT NULL),
    ordered AS (
      SELECT *,
             LAST_VALUE(CASE WHEN NOT treated THEN outcome END IGNORE NULLS)
               OVER (ORDER BY score, user_id
                     ROWS UNBOUNDED PRECEDING) AS ctrl_below_y,
             LAST_VALUE(CASE WHEN NOT treated THEN score END IGNORE NULLS)
               OVER (ORDER BY score, user_id
                     ROWS UNBOUNDED PRECEDING) AS ctrl_below_s,
             FIRST_VALUE(CASE WHEN NOT treated THEN outcome END IGNORE NULLS)
               OVER (ORDER BY score, user_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS ctrl_above_y,
             FIRST_VALUE(CASE WHEN NOT treated THEN score END IGNORE NULLS)
               OVER (ORDER BY score, user_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS ctrl_above_s
      FROM uu
    ),
    matched AS (
      SELECT user_id, score, outcome,
             CASE WHEN ctrl_below_s IS NULL THEN ctrl_above_y
                  WHEN ctrl_above_s IS NULL THEN ctrl_below_y
                  WHEN score - ctrl_below_s <= ctrl_above_s - score
                  THEN ctrl_below_y ELSE ctrl_above_y END AS m_outcome,
             CASE WHEN ctrl_below_s IS NULL THEN ctrl_above_s
                  WHEN ctrl_above_s IS NULL THEN ctrl_below_s
                  WHEN score - ctrl_below_s <= ctrl_above_s - score
                  THEN ctrl_below_s ELSE ctrl_above_s END AS m_score
      FROM ordered WHERE treated
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
           ROUND(AVG(outcome - m_outcome), 4) AS att,
           ROUND(AVG(ABS(score - m_score)), 4) AS mean_score_gap,
           ROUND(AVG(outcome), 4) AS treated_mean,
           ROUND(AVG(m_outcome), 4) AS matched_control_mean
    FROM matched WHERE m_outcome IS NOT NULL
    """,
)
def stats_nn_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-nearest-neighbor matching estimator: every treated user (id
    parity — the demo assignment) is matched to the control user with
    the CLOSEST score (mean event value), and the ATT is the mean
    treated-minus-matched-outcome difference — Rubin-style matching,
    the workhorse of observational causal analysis. The mean score gap
    measures match quality (caliper tuning).

    The naive formulation is a treated×control distance join; here
    both groups merge into ONE score-sorted stream and each treated
    row reads its nearest control from LAST_VALUE(below, IGNORE NULLS)
    and FIRST_VALUE(above) — 1-D nearest neighbor IS a sorted-merge,
    the `join_asof_nearest` lesson applied to causal matching. Scores
    pre-round to 1e-6 so ordering is engine-stable. Scale shape
    (VERDICT r5 wrong-#1: the draft streamed all users through one
    unpartitioned window; r12, VERDICT r11 next-#4: the sampler
    machinery's localCheckpoint + boundary sample + per-pid collect
    collapses to ONE executed job): the bin id comes from
    ``functions.distributed.binned_pid`` (in-plan broadcast min/max
    bounds over the derived score — the bounds arm shares the per-user
    rollup's exchange via ReusedExchange), the cross-bin carries (each
    bin's LAST control below / FIRST control above) ride a bounded
    nbins-row window + broadcast join instead of driver literals, and
    the data-sized windows run PARTITIONED BY the bin — the
    `binned_prefix_sums` two-phase trick with last-seen values instead
    of sums."""
    from ..functions.distributed import binned_pid

    u = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(F.avg("value"), 6).alias("score"),
            F.round(
                F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))),
                4,
            ).alias("outcome"),
        )
        .withColumn("treated", F.col("user_id") % 2 == 0)
        .filter(F.col("outcome").isNotNull())
    )
    p = binned_pid(u, "score").repartition("_pid")
    # phase 1 (in-plan): each bin's first/last control row — min_by/
    # max_by with a control-only ordering key (NULL order keys are
    # ignored, so all-treated bins yield NULL structs but still emit
    # their row: every bin present in p joins back), then the bounded
    # nbins-row carry windows (allowlisted: one row per bin)
    ord_key = F.when(
        ~F.col("treated"), F.struct("score", "user_id")
    )
    sy = F.struct(F.col("score").alias("s"), F.col("outcome").alias("y"))
    ends = p.groupBy("_pid").agg(
        F.min_by(sy, ord_key).alias("first_ctrl"),
        F.max_by(sy, ord_key).alias("last_ctrl"),
    )
    prevw = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    nextw = Window.orderBy("_pid").rowsBetween(1, Window.unboundedFollowing)
    offs = ends.select(
        "_pid",
        F.last("last_ctrl", ignorenulls=True).over(prevw).alias("_cb"),
        F.first("first_ctrl", ignorenulls=True).over(nextw).alias("_ca"),
    )
    p = p.join(F.broadcast(offs), "_pid")
    # phase 2: windows PARTITIONED BY the bin id, boundary carries from
    # the broadcast columns
    w = Window.partitionBy("_pid").orderBy("score", "user_id")
    below = w.rowsBetween(Window.unboundedPreceding, 0)
    above = w.rowsBetween(0, Window.unboundedFollowing)
    ctrl_y = F.when(~F.col("treated"), F.col("outcome"))
    ctrl_s = F.when(~F.col("treated"), F.col("score"))
    ordered = p.select(
        "user_id",
        "score",
        "outcome",
        "treated",
        F.coalesce(
            F.last(ctrl_y, ignorenulls=True).over(below), F.col("_cb.y")
        ).alias("ctrl_below_y"),
        F.coalesce(
            F.last(ctrl_s, ignorenulls=True).over(below), F.col("_cb.s")
        ).alias("ctrl_below_s"),
        F.coalesce(
            F.first(ctrl_y, ignorenulls=True).over(above), F.col("_ca.y")
        ).alias("ctrl_above_y"),
        F.coalesce(
            F.first(ctrl_s, ignorenulls=True).over(above), F.col("_ca.s")
        ).alias("ctrl_above_s"),
    ).filter(F.col("treated"))
    use_below = (
        F.col("ctrl_above_s").isNull()
        | (
            F.col("ctrl_below_s").isNotNull()
            & (
                F.col("score") - F.col("ctrl_below_s")
                <= F.col("ctrl_above_s") - F.col("score")
            )
        )
    )
    matched = ordered.select(
        "score",
        "outcome",
        F.when(use_below, F.col("ctrl_below_y"))
        .otherwise(F.col("ctrl_above_y"))
        .alias("m_outcome"),
        F.when(use_below, F.col("ctrl_below_s"))
        .otherwise(F.col("ctrl_above_s"))
        .alias("m_score"),
    ).filter(F.col("m_outcome").isNotNull())
    return matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.round(F.avg(F.col("outcome") - F.col("m_outcome")), 4).alias("att"),
        F.round(F.avg(F.abs(F.col("score") - F.col("m_score"))), 4).alias(
            "mean_score_gap"
        ),
        F.round(F.avg("outcome"), 4).alias("treated_mean"),
        F.round(F.avg("m_outcome"), 4).alias("matched_control_mean"),
    )


# ---------------------------------------------------------------------------
# privacy_cell_suppression
# ---------------------------------------------------------------------------
@register(
    "privacy_cell_suppression",
    oracle="""
    WITH cells AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    published AS (
      SELECT day,
             CASE WHEN n >= 20 THEN event_type ELSE 'OTHER' END AS cell,
             SUM(n) AS n,
             count_if(n < 20) AS n_suppressed_src
      FROM cells GROUP BY 1, 2
    )
    SELECT day, cell, CAST(n AS BIGINT) AS n,
           CAST(n_suppressed_src AS BIGINT) AS n_suppressed_src
    FROM published ORDER BY day, cell
    """,
)
def privacy_cell_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-cell suppression — statistical disclosure control for the
    publishable report: any (day, type) cell under 20 folds into an
    OTHER cell rather than appearing alone, with the suppressed-source
    count carried for auditability; totals are conserved exactly (the
    suite pins Σ published ≡ corpus rows per day). The PUBLICATION-side
    privacy control completing the ladder: k-anonymity/l-diversity/
    t-closeness audit the microdata, the generalization ladder coarsens
    it, this protects the aggregate release itself.

    Two bounded aggregates: the cell rollup, then the fold — both on
    (day, …) keys; all-integer."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    published = (
        cells.groupBy(
            "day",
            F.when(F.col("n") >= 20, F.col("event_type"))
            .otherwise(F.lit("OTHER"))
            .alias("cell"),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.count_if(F.col("n") < 20).cast("bigint").alias("n_suppressed_src"),
        )
    )
    return published.orderBy("day", "cell")


# ---------------------------------------------------------------------------
# stats_breusch_pagan
# ---------------------------------------------------------------------------
@register(
    "stats_breusch_pagan",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n, SUM(l_quantity) AS sx,
             SUM(l_extendedprice) AS sy,
             SUM(l_quantity * l_quantity) AS sxx,
             SUM(l_quantity * l_extendedprice) AS sxy
      FROM lineitem
    ),
    beta AS (
      SELECT n,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b1,
             sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n AS b0
      FROM m
    ),
    resid AS (
      SELECT l.l_quantity AS x,
             POW(l.l_extendedprice - beta.b0 - beta.b1 * l.l_quantity, 2)
               AS e2
      FROM lineitem l CROSS JOIN beta
    ),
    aux AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(e2) AS sy,
             SUM(x * x) AS sxx, SUM(x * e2) AS sxy,
             SUM(e2 * e2) AS syy
      FROM resid
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(POW(sxy - sx * sy / n, 2)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 4)
             AS aux_r2,
           ROUND(n * POW(sxy - sx * sy / n, 2)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 4)
             AS bp_stat,
           CAST(1 AS BIGINT) AS df
    FROM aux
    """,
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroscedasticity test on the price~quantity
    regression: fit OLS, regress the SQUARED residuals on the
    regressor, and BP = n·R² of that auxiliary fit ~ χ²(1) — large BP
    means the error variance moves with x, so `agg_linreg`'s
    constant-variance standard errors are lies (this fixture's
    price~quantity errors turn out near-homoscedastic — BP correctly
    stays quiet, which is as informative as firing). The validity
    gate completing the regression ladder: fit (`agg_linreg`,
    `stats_ols_two_vars`) → normality (`stats_jarque_bera`) →
    homoscedasticity (this).

    Two moment passes: betas from a 1-row aggregate broadcast back,
    then the auxiliary regression's moments in a second 1-row pass —
    the aux R² assembles from centered sums in the same expansion form
    both engines share (single-predictor R² = corr², via the
    `stats_levene_test` discipline)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    x, y = F.col("x"), F.col("y")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    # try_divide: a constant regressor (zero x-variance, e.g. n==1)
    # leaves the fit undefined -> NULL, matching DuckDB (r7 edge sweep)
    b1 = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / n,
        F.col("sxx") - F.col("sx") * F.col("sx") / n,
    )
    beta = m.select(
        b1.alias("b1"), (F.col("sy") / n - b1 * F.col("sx") / n).alias("b0")
    )
    resid = li.crossJoin(F.broadcast(beta)).select(
        "x",
        F.pow(y - F.col("b0") - F.col("b1") * x, 2).alias("e2"),
    )
    e2 = F.col("e2")
    aux = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(e2).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * e2).alias("sxy"),
        F.sum(e2 * e2).alias("syy"),
    )
    num = F.pow(F.col("sxy") - F.col("sx") * F.col("sy") / n, 2)
    den = (F.col("sxx") - F.col("sx") * F.col("sx") / n) * (
        F.col("syy") - F.col("sy") * F.col("sy") / n
    )
    return aux.select(
        n.cast("bigint").alias("n"),
        F.round(F.try_divide(num, den), 4).alias("aux_r2"),
        F.round(F.try_divide(n * num, den), 4).alias("bp_stat"),
        F.lit(1).cast("bigint").alias("df"),
    )


# ---------------------------------------------------------------------------
# stats_ljung_box
# ---------------------------------------------------------------------------
@register(
    "stats_ljung_box",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM daily_src GROUP BY 1
    ),
    mu AS (SELECT COUNT(*) AS n, AVG(rev) AS m FROM daily),
    lagged AS (
      SELECT rev,
             LAG(rev, 1) OVER (ORDER BY day) AS l1,
             LAG(rev, 2) OVER (ORDER BY day) AS l2,
             LAG(rev, 3) OVER (ORDER BY day) AS l3,
             LAG(rev, 4) OVER (ORDER BY day) AS l4,
             LAG(rev, 5) OVER (ORDER BY day) AS l5
      FROM daily
    ),
    acf AS (
      SELECT mu.n,
             SUM((l.rev - mu.m) * (l.rev - mu.m)) AS s0,
             SUM((l.rev - mu.m) * (l.l1 - mu.m)) AS s1,
             SUM((l.rev - mu.m) * (l.l2 - mu.m)) AS s2,
             SUM((l.rev - mu.m) * (l.l3 - mu.m)) AS s3,
             SUM((l.rev - mu.m) * (l.l4 - mu.m)) AS s4,
             SUM((l.rev - mu.m) * (l.l5 - mu.m)) AS s5
      FROM lagged l CROSS JOIN mu
      GROUP BY mu.n
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(s1 / s0, 4) + 0 AS rho1,
           ROUND(n * (n + 2.0) * (POW(s1 / s0, 2) / (n - 1)
                 + POW(s2 / s0, 2) / (n - 2)
                 + POW(s3 / s0, 2) / (n - 3)
                 + POW(s4 / s0, 2) / (n - 4)
                 + POW(s5 / s0, 2) / (n - 5)), 4) AS lb_stat,
           CAST(5 AS BIGINT) AS df
    FROM acf
    """.replace("daily_src", "events"),
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test at lags 1–5 on daily revenue:
    Q = n(n+2)·Σ ρ²_k/(n−k) ~ χ²(5) under 'no autocorrelation at ANY
    of these lags' — the omnibus diagnostic run on forecast residuals
    (`ts_holt_winters`, `events_forecast_backtest`) where `ts_autocorr`
    eyeballs one lag at a time and `stats_runs_test` only sees signs.

    ACF numerators for all five lags assemble in ONE aggregate over
    the lag-projected day table (the NULL rows that lag-k loses drop
    out of s_k exactly as the estimator requires); the mean rides a
    1-row cross join; the day table is bounded so every step after the
    day-grain aggregate is trivial. Same-denominator s0 (the standard
    ACF estimator) keeps both engines on identical float paths."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .localCheckpoint()  # mean pass + lag pass share one compute
    )
    mu = daily.agg(F.count(F.lit(1)).alias("n"), F.avg("rev").alias("m"))
    w = Window.orderBy("day")
    lagged = daily.select(
        "rev", *[F.lag("rev", k).over(w).alias(f"l{k}") for k in range(1, 6)]
    )
    l = lagged.crossJoin(F.broadcast(mu))
    m = F.col("m")
    acf = l.groupBy("n").agg(
        F.sum((F.col("rev") - m) * (F.col("rev") - m)).alias("s0"),
        *[
            F.sum((F.col("rev") - m) * (F.col(f"l{k}") - m)).alias(f"s{k}")
            for k in range(1, 6)
        ],
    )
    n = F.col("n")
    q = (
        n
        * (n + 2.0)
        * sum(
            F.pow(F.col(f"s{k}") / F.col("s0"), 2) / (n - k) for k in range(1, 6)
        )
    )
    return acf.select(
        n.cast("bigint").alias("n_days"),
        (F.round(F.col("s1") / F.col("s0"), 4) + F.lit(0)).alias("rho1"),
        F.round(q, 4).alias("lb_stat"),
        F.lit(5).cast("bigint").alias("df"),
    )


# ---------------------------------------------------------------------------
# stats_mcnemar
# ---------------------------------------------------------------------------
@register(
    "stats_mcnemar",
    oracle="""
    WITH halves AS (
      SELECT user_id,
             count_if(event_type = 'purchase'
                      AND event_id % 2 = 0) > 0 AS buy_a,
             count_if(event_type = 'purchase'
                      AND event_id % 2 = 1) > 0 AS buy_b
      FROM events GROUP BY user_id
    ),
    cells AS (
      -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
      SELECT COALESCE(count_if(buy_a AND buy_b), 0) AS both_,
             COALESCE(count_if(buy_a AND NOT buy_b), 0) AS only_a,
             COALESCE(count_if(NOT buy_a AND buy_b), 0) AS only_b,
             COALESCE(count_if(NOT buy_a AND NOT buy_b), 0) AS neither,
             COUNT(*) AS n
      FROM halves
    )
    SELECT CAST(n AS BIGINT) AS n_subjects,
           CAST(both_ AS BIGINT) AS both_halves,
           CAST(only_a AS BIGINT) AS only_a,
           CAST(only_b AS BIGINT) AS only_b,
           CAST(neither AS BIGINT) AS neither,
           ROUND(CASE WHEN only_a + only_b = 0 THEN 0
                 ELSE POW(ABS(only_a - only_b) - 1, 2)
                      / (only_a + only_b) END, 4) AS mcnemar_chi2
    FROM cells
    """,
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary outcomes: did each user purchase
    under condition A (even event_ids) vs condition B (odd)? Only the
    DISCORDANT cells matter — χ² = (|b−c|−1)²/(b+c) with continuity
    correction, df=1 — the paired-binary member of the test family
    (`stats_wilcoxon_signed_rank` is its continuous sibling; the
    unpaired χ² is `stats_g_test`/`stats_chi2_srm`). The 2×2 paired
    table is reported in full so the discordant asymmetry is visible,
    not just the statistic.

    One user-keyed conditional rollup + a 1-row cell count —
    all-integer until the single final division."""
    halves = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.count_if(
                    (F.col("event_type") == "purchase")
                    & (F.col("event_id") % 2 == 0)
                )
                > 0
            ).alias("buy_a"),
            (
                F.count_if(
                    (F.col("event_type") == "purchase")
                    & (F.col("event_id") % 2 == 1)
                )
                > 0
            ).alias("buy_b"),
        )
    )
    a, b = F.col("buy_a"), F.col("buy_b")
    cells = halves.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(a & b).alias("both_"),
        F.count_if(a & ~b).alias("only_a"),
        F.count_if(~a & b).alias("only_b"),
        F.count_if(~a & ~b).alias("neither"),
    )
    oa, ob = F.col("only_a"), F.col("only_b")
    return cells.select(
        F.col("n").cast("bigint").alias("n_subjects"),
        F.col("both_").cast("bigint").alias("both_halves"),
        oa.cast("bigint").alias("only_a"),
        ob.cast("bigint").alias("only_b"),
        F.col("neither").cast("bigint").alias("neither"),
        F.round(
            F.when(oa + ob == 0, F.lit(0.0)).otherwise(
                F.pow(F.abs(oa - ob) - 1, 2) / (oa + ob)
            ),
            4,
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# stats_capture_recapture
# ---------------------------------------------------------------------------
@register(
    "stats_capture_recapture",
    oracle="""
    WITH caps AS (
      SELECT user_id,
             count_if(event_id % 2 = 0) > 0 AS in_a,
             count_if(event_id % 2 = 1) > 0 AS in_b
      FROM events GROUP BY user_id
    ),
    c AS (
      -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
      SELECT COALESCE(count_if(in_a), 0) AS n1,
             COALESCE(count_if(in_b), 0) AS n2,
             COALESCE(count_if(in_a AND in_b), 0) AS m,
             COUNT(*) AS true_n
      FROM caps
    )
    SELECT CAST(n1 AS BIGINT) AS capture_1,
           CAST(n2 AS BIGINT) AS capture_2,
           CAST(m AS BIGINT) AS recaptured,
           ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1, 4)
             AS chapman_estimate,
           CAST(true_n AS BIGINT) AS observed_union
    FROM c
    """,
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen capture–recapture (Chapman's bias-corrected
    form): treat even and odd event_ids as two independent 'capture'
    occasions of users; N̂ = (n1+1)(n2+1)/(m+1) − 1 estimates the
    TOTAL population including users neither capture saw — the
    estimator analytics borrows from ecology to answer 'how many
    duplicates/defects/users exist beyond the ones my two imperfect
    detectors found?' (e.g. two dedup methods' overlap →
    `dedup_method_overlap` feeds exactly this). Here both captures see
    nearly everyone, so N̂ ≈ the observed union — the suite pins that
    consistency check.

    One user-keyed conditional rollup + a 1-row cell count — the
    `stats_mcnemar` shape with an estimator on top."""
    caps = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (F.count_if(F.col("event_id") % 2 == 0) > 0).alias("in_a"),
            (F.count_if(F.col("event_id") % 2 == 1) > 0).alias("in_b"),
        )
    )
    a, b = F.col("in_a"), F.col("in_b")
    c = caps.agg(
        F.count_if(a).alias("n1"),
        F.count_if(b).alias("n2"),
        F.count_if(a & b).alias("m"),
        F.count(F.lit(1)).alias("true_n"),
    )
    return c.select(
        F.col("n1").cast("bigint").alias("capture_1"),
        F.col("n2").cast("bigint").alias("capture_2"),
        F.col("m").cast("bigint").alias("recaptured"),
        F.round(
            (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1, 4
        ).alias("chapman_estimate"),
        F.col("true_n").cast("bigint").alias("observed_union"),
    )


# ---------------------------------------------------------------------------
# stats_cochran_armitage
# ---------------------------------------------------------------------------
@register(
    "stats_cochran_armitage",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             count_if(event_type = 'purchase') AS k,
             COUNT(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT k, n,
             ROW_NUMBER() OVER (ORDER BY day) - 1 AS t
      FROM daily
    ),
    m AS (
      SELECT SUM(n) AS nn, SUM(k) AS kk,
             SUM(n * t) AS snt, SUM(k * t) AS skt,
             SUM(n * t * t) AS sntt
      FROM idx
    )
    SELECT CAST(nn AS BIGINT) AS n_events,
           CAST(kk AS BIGINT) AS n_hits,
           ROUND((skt - kk * 1.0 * snt / nn)
                 / SQRT((kk * 1.0 / nn) * (1 - kk * 1.0 / nn)
                        * (sntt - snt * 1.0 * snt / nn)), 4) + 0 AS z,
           ROUND(kk * 1.0 / nn, 4) AS overall_rate
    FROM m
    """,
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: is the purchase PROPORTION
    trending across ordered days? z = (Σk·t − K·Σn·t/N) /
    √(p̄(1−p̄)(Σn·t² − (Σn·t)²/N)) with t the day index — the
    binary-outcome trend test (`ts_mann_kendall` handles continuous
    levels; a proportion needs its binomial variance). The standard
    dose-response / conversion-drift statistic.

    One daily (k, n) aggregate, day indices from a window over the
    bounded day table, then a 1-row moment pass — integer counts feed
    every sum, so both engines assemble identical doubles."""
    daily = (
        table(spark, sf_dir, "events")
        # two-sided gate: a dateless event has no dose index — and under
        # mixed NULLs Spark indexes the NULL day t=0 where DuckDB gives
        # it the max t, flipping the trend sign (r8 nullmix sweep)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count_if(F.col("event_type") == "purchase").alias("k"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    idx = daily.select(
        "k", "n", (F.row_number().over(Window.orderBy("day")) - 1).alias("t")
    )
    k, n, t = F.col("k"), F.col("n"), F.col("t")
    m = idx.agg(
        F.sum(n).alias("nn"),
        F.sum(k).alias("kk"),
        F.sum(n * t).alias("snt"),
        F.sum(k * t).alias("skt"),
        F.sum(n * t * t).alias("sntt"),
    )
    nn, kk = F.col("nn"), F.col("kk")
    p = kk * 1.0 / nn
    # try_divide: a single day (zero time spread) or an all/none hit rate
    # leaves z undefined -> NULL, matching DuckDB (r7 edge sweep)
    z = F.try_divide(
        F.col("skt") - kk * 1.0 * F.col("snt") / nn,
        F.sqrt(
            p * (1 - p) * (F.col("sntt") - F.col("snt") * 1.0 * F.col("snt") / nn)
        ),
    )
    return m.select(
        nn.cast("bigint").alias("n_events"),
        kk.cast("bigint").alias("n_hits"),
        (F.round(z, 4) + F.lit(0)).alias("z"),
        F.round(p, 4).alias("overall_rate"),
    )


# ---------------------------------------------------------------------------
# stats_hodges_lehmann
# ---------------------------------------------------------------------------
@register(
    "stats_hodges_lehmann",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT (a.rev + b.rev) / 2.0 AS walsh
      FROM daily a JOIN daily b ON a.day <= b.day
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_walsh,
           ROUND(quantile_cont(walsh, 0.5) / 100.0, 4) AS hl_estimate,
           ROUND((SELECT AVG(rev) FROM daily) / 100.0, 4) AS plain_mean,
           ROUND((SELECT quantile_cont(rev, 0.5) FROM daily) / 100.0, 4)
             AS plain_median
    FROM pairs
    """,
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann pseudo-median of daily revenue: the median of
    all Walsh averages (xᵢ+xⱼ)/2 over i ≤ j — more efficient than the
    median under near-symmetric noise, still 29%-breakdown robust
    where the mean has none; it is THE point estimate that accompanies
    a Wilcoxon interval (`stats_wilcoxon_signed_rank`). Mean and
    median reported alongside — the three disagreeing is itself the
    skew/outlier signal.

    Walsh averages are a self-join of the BOUNDED daily table
    (n(n+1)/2 pairs of one-row-per-day — ~66k pairs even for a year);
    the corpus-sized work is the one day-grain integer aggregate; the
    final percentile is exact over the pair table."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .localCheckpoint()  # pair sides + scalars share one compute
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.avg("rev").alias("mean_c"),
        F.expr("percentile(rev, 0.5)").alias("med_c"),
    ).collect()[0]
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    pairs = a.join(b, F.col("da") <= F.col("db")).select(
        ((F.col("ra") + F.col("rb")) / 2.0).alias("walsh")
    )
    return pairs.agg(
        F.lit(stats["n_days"]).cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_walsh"),
        F.round(F.expr("percentile(walsh, 0.5)") / 100.0, 4).alias("hl_estimate"),
        F.round(F.lit(stats["mean_c"]) / 100.0, 4).alias("plain_mean"),
        F.round(F.lit(stats["med_c"]) / 100.0, 4).alias("plain_median"),
    )


# ---------------------------------------------------------------------------
# stats_sign_test
# ---------------------------------------------------------------------------
@register(
    "stats_sign_test",
    oracle="""
    WITH pairs AS (
      SELECT user_id,
             AVG(CASE WHEN event_id % 2 = 0 THEN value END) AS x,
             AVG(CASE WHEN event_id % 2 = 1 THEN value END) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    d AS (
      SELECT ROUND(y - x, 6) AS d FROM pairs
      WHERE x IS NOT NULL AND y IS NOT NULL AND ROUND(y - x, 6) <> 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           -- COALESCE: DuckDB count_if is NULL over zero rows, Spark's is 0
           CAST(COALESCE(count_if(d > 0), 0) AS BIGINT) AS n_positive,
           CAST(COALESCE(count_if(d < 0), 0) AS BIGINT) AS n_negative,
           ROUND((count_if(d > 0) - COUNT(*) / 2.0)
                 / SQRT(COUNT(*) / 4.0), 4) + 0 AS z
    FROM d
    """,
)
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign test on paired per-user period means: count positive vs
    negative differences, z = (k − n/2)/√(n/4) — the assumption-free
    floor of the paired-test ladder (sign test assumes NOTHING about
    the difference distribution; `stats_wilcoxon_signed_rank` adds
    symmetry for more power; a paired t adds normality for most).
    Run all three and watch where they diverge — that divergence IS
    the distributional diagnosis.

    One user rollup + a 1-row sign count; the same 1e-6 difference
    pre-rounding as Wilcoxon so zero-classification is engine-stable."""
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    pairs = ev.groupBy("user_id").agg(
        F.avg(F.when(F.col("event_id") % 2 == 0, F.col("value"))).alias("x"),
        F.avg(F.when(F.col("event_id") % 2 == 1, F.col("value"))).alias("y"),
    )
    d = (
        pairs.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .select(F.round(F.col("y") - F.col("x"), 6).alias("d"))
        .filter(F.col("d") != 0)
    )
    n = F.count(F.lit(1))
    k = F.count_if(F.col("d") > 0)
    return d.agg(
        n.cast("bigint").alias("n_pairs"),
        k.cast("bigint").alias("n_positive"),
        F.count_if(F.col("d") < 0).cast("bigint").alias("n_negative"),
        # try_divide: zero usable pairs leave z undefined -> NULL,
        # matching DuckDB's NULL-on-zero-divisor division (r7 edge sweep)
        (F.round(F.try_divide(k - n / 2.0, F.sqrt(n / 4.0)), 4) + F.lit(0)).alias(
            "z"
        ),
    )


# ---------------------------------------------------------------------------
# stats_grubbs
# ---------------------------------------------------------------------------
@register(
    "stats_grubbs",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    m AS (
      SELECT COUNT(*) AS n, AVG(rev) AS mu, STDDEV_SAMP(rev) AS s
      FROM daily
    )
    SELECT CAST(COALESCE(MAX(m.n), 0) AS BIGINT) AS n_days,  -- 0 days, not NULL
           ROUND(MAX(ABS(daily.rev - m.mu)) / MAX(m.s), 4) AS g_stat,
           min_by(daily.day, -ABS(daily.rev - m.mu)) AS suspect_day,
           ROUND(min_by(daily.rev, -ABS(daily.rev - m.mu)) / 100.0, 4)
             AS suspect_revenue
    FROM daily CROSS JOIN m GROUP BY ()
    """,
)
def stats_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' single-outlier statistic on daily revenue:
    G = max|xᵢ − x̄|/s, with the suspect day identified by `min_by` on
    the negated deviation (max_by with a deterministic orientation) —
    the formal one-outlier test under normality, next to the
    threshold detectors (`ts_hampel_outliers` robustly flags many;
    Grubbs asks 'is THE most extreme day beyond chance?'). The
    critical value needs a t-quantile, so G and n are reported for the
    caller's table lookup — the STATISTIC is the distributed work.

    One day-grain aggregate, a 1-row moment pass, and an argmax over
    the bounded day table."""
    daily = (
        table(spark, sf_dir, "events")
        # two-sided gate: dateless events are not series points (r8 nullmix)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .localCheckpoint()  # moment pass + argmax share one compute
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("rev").alias("mu"),
        F.stddev_samp("rev").alias("s"),
    ).collect()[0]
    dev = F.abs(F.col("rev") - F.lit(m["mu"]))
    return daily.agg(
        F.lit(m["n"]).cast("bigint").alias("n_days"),
        # try_divide: a constant series (s==0) leaves G undefined -> NULL,
        # matching DuckDB (r7 edge sweep); s may also be None (n<2)
        F.round(
            F.try_divide(F.max(dev), F.lit(m["s"]).cast("double")), 4
        ).alias("g_stat"),
        F.min_by(F.col("day"), -dev).alias("suspect_day"),
        F.round(F.min_by(F.col("rev"), -dev) / 100.0, 4).alias("suspect_revenue"),
    )


# ---------------------------------------------------------------------------
# stats_block_bootstrap
# ---------------------------------------------------------------------------
_BB_MULT = 2654435761
_BB_REPS = 200
_BB_BLOCK = 5


@register(
    "stats_block_bootstrap",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) - 1 AS i
      FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    n AS (SELECT COUNT(*) AS nd FROM daily),
    reps AS (SELECT UNNEST(generate_series(0, {_BB_REPS - 1})) AS r),
    blocks AS (  -- each replicate draws ceil(n/B) block starts
      SELECT reps.r, b.b,
             ((reps.r * 1000003 + b.b * 7919) * {_BB_MULT})
               % 4294967296
               % (n.nd - {_BB_BLOCK} + 1) AS start
      FROM reps CROSS JOIN n,
           UNNEST(generate_series(0,
             CAST(CEIL(n.nd * 1.0 / {_BB_BLOCK}) AS INT) - 1)) AS b(b)
    ),
    sampled AS (
      SELECT bl.r, d.rev
      FROM blocks bl
      JOIN daily d ON d.i >= bl.start AND d.i < bl.start + {_BB_BLOCK}
    ),
    rep_means AS (
      SELECT r, AVG(rev) AS m FROM sampled GROUP BY r
    )
    SELECT CAST((SELECT nd FROM n) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_replicates,
           ROUND(AVG(m) / 100.0, 4) AS boot_mean,
           ROUND(quantile_cont(m, 0.025) / 100.0, 4) AS ci_lo,
           ROUND(quantile_cont(m, 0.975) / 100.0, 4) AS ci_hi
    FROM rep_means
    """,
)
def stats_block_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-block bootstrap CI for mean daily revenue: each of 200
    replicates resamples ⌈n/5⌉ five-day BLOCKS (deterministic
    multiplicative-hash starts — reruns and engines agree), preserving
    the short-range autocorrelation that the iid bootstrap
    (`stats_bootstrap_ci`) destroys — on dependent series the iid CI
    is too NARROW, and this pair of keys shows the gap.

    The replicate×block grid is pure integer arithmetic (bounded:
    reps×⌈n/B⌉ rows); block membership is a range join against the
    BOUNDED day table; replicate means and the percentile CI are
    aggregates over 200 rows. The corpus-sized work remains the one
    day-grain aggregate."""
    import math

    daily = (
        table(spark, sf_dir, "events")
        # two-sided gate: dateless events are not series points (r8 nullmix)
        .filter(F.col("ts").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .withColumn("i", F.row_number().over(Window.orderBy("day")) - 1)
        .localCheckpoint()
    )
    nd = daily.count()
    n_blocks = math.ceil(nd / _BB_BLOCK)
    reps = spark.range(_BB_REPS).select(F.col("id").alias("r"))
    bl = spark.range(n_blocks).select(F.col("id").alias("b"))
    blocks = reps.crossJoin(F.broadcast(bl)).select(
        "r",
        (
            ((F.col("r") * 1000003 + F.col("b") * 7919) * F.lit(_BB_MULT))
            % F.lit(4294967296)
            % F.lit(nd - _BB_BLOCK + 1)
        ).alias("start"),
    )
    sampled = blocks.join(
        F.broadcast(daily),
        (F.col("i") >= F.col("start"))
        & (F.col("i") < F.col("start") + _BB_BLOCK),
    )
    rep_means = sampled.groupBy("r").agg(F.avg("rev").alias("m"))
    return rep_means.agg(
        F.lit(nd).cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.round(F.avg("m") / 100.0, 4).alias("boot_mean"),
        F.round(F.expr("percentile(m, 0.025)") / 100.0, 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)") / 100.0, 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# stats_friedman_test
# ---------------------------------------------------------------------------
@register(
    "stats_friedman_test",
    oracle="""
    WITH cell AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, event_type,
             RANK() OVER (PARTITION BY day ORDER BY rev)
               + (COUNT(*) OVER (PARTITION BY day, rev) - 1) / 2.0 AS r
      FROM cell
    ),
    sums AS (
      SELECT event_type, SUM(r) AS rsum,
             (SELECT COUNT(DISTINCT day) FROM cell) AS n,
             (SELECT COUNT(DISTINCT event_type) FROM cell) AS k
      FROM ranked GROUP BY event_type
    )
    SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_blocks,  -- 0, not NULL
           CAST(COALESCE(MAX(k), 0) AS BIGINT) AS k_treatments,
           ROUND(12.0 / (MAX(n) * MAX(k) * (MAX(k) + 1))
                 * SUM(rsum * rsum)
                 - 3 * MAX(n) * (MAX(k) + 1), 4) AS friedman_chi2
    FROM sums
    """,
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: within each DAY (the block), rank the five
    event types by revenue (average-rank ties), then
    χ² = 12/(nk(k+1))·ΣR_j² − 3n(k+1) over the per-type rank sums —
    the nonparametric repeated-measures ANOVA ('do the types rank
    consistently across days?') that `stats_anova_f` answers only
    under normality and day-independence. χ²(k−1) under the null.

    Cell table is one (day, type) aggregate; ranking runs inside ≤k-row
    day partitions (thousands of tiny partitions — the healthy window
    case); the test assembles from k rank sums. Average-rank ties via
    the (day, rev) peer-count window (`stats_spearman_corr` tie
    discipline, partition-key friendly at this cardinality)."""
    cell = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .localCheckpoint()  # ranking + n/k scalars share one compute
    )
    nk = cell.agg(
        F.count_distinct(F.col("day")).alias("n"),
        F.count_distinct(F.col("event_type")).alias("k"),
    ).collect()[0]
    n_b, k_t = nk["n"], nk["k"]
    wr = Window.partitionBy("day").orderBy("rev")
    peers = F.count(F.lit(1)).over(Window.partitionBy("day", "rev"))
    ranked = cell.select(
        "event_type", (F.rank().over(wr) + (peers - 1) / 2.0).alias("r")
    )
    sums = ranked.groupBy("event_type").agg(F.sum("r").alias("rsum"))
    # an empty design (no blocks or no treatments) leaves chi2 undefined
    # -> NULL, matching the oracle's NULL algebra (r7 edge sweep: the
    # literal division by n·k·(k+1)=0 raised under ANSI)
    denom = n_b * k_t * (k_t + 1)
    chi2 = (
        F.round(
            F.lit(12.0) / denom * F.sum(F.col("rsum") * F.col("rsum"))
            - 3 * n_b * (k_t + 1),
            4,
        )
        if denom
        else F.lit(None).cast("double")
    )
    return sums.agg(
        F.lit(n_b).cast("bigint").alias("n_blocks"),
        F.lit(k_t).cast("bigint").alias("k_treatments"),
        chi2.alias("friedman_chi2"),
    )


# ---------------------------------------------------------------------------
# stats_durbin_watson
# ---------------------------------------------------------------------------
@register(
    "stats_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT)) AS rev,
             ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS t
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(t) AS st, SUM(rev) AS sr,
             SUM(t * t) AS stt, SUM(t * rev) AS str_
      FROM daily
    ),
    beta AS (
      SELECT (str_ - st * sr * 1.0 / n) / (stt - st * st * 1.0 / n) AS b1,
             sr * 1.0 / n
               - (str_ - st * sr * 1.0 / n)
                 / (stt - st * st * 1.0 / n) * st / n AS b0
      FROM m
    ),
    resid AS (
      SELECT d.t, d.rev - beta.b0 - beta.b1 * d.t AS e
      FROM daily d CROSS JOIN beta
    ),
    lagged AS (
      SELECT e, LAG(e) OVER (ORDER BY t) AS ep FROM resid
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           ROUND(SUM(CASE WHEN ep IS NOT NULL
                     THEN (e - ep) * (e - ep) ELSE 0 END)
                 / SUM(e * e), 4) AS dw_stat
    FROM lagged
    """,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson on the residuals of the daily-revenue-vs-time OLS:
    DW = Σ(e_t − e_{t−1})²/Σe_t² ∈ [0, 4] — ≈2 means independent
    residuals, <2 positive serial correlation (the common case that
    makes OLS confidence intervals too narrow), >2 negative. The
    classic time-ordered gate completing the regression-validity
    ladder (fit → normality `stats_jarque_bera` → homoscedasticity
    `stats_breusch_pagan` → independence THIS; `stats_ljung_box` is
    its multi-lag generalization).

    Betas from a 1-row moment pass broadcast back; residuals, the lag
    window and both sums all live on the bounded day table."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0)) * 100).cast("bigint")
            ).alias("rev")
        )
        .withColumn("t", F.row_number().over(Window.orderBy("day")))
        .localCheckpoint()  # moment pass + residual pass share it
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("rev").alias("sr"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("rev")).alias("str_"),
    ).collect()[0]
    n = m["n"]
    # degenerate series (r7 edge sweep): zero days has no moments and a
    # single day has zero time-variance — the trend fit is undefined, so
    # the residuals (and DW) go NULL, matching the oracle's NULL algebra
    den = (m["stt"] - m["st"] ** 2 / n) if n else 0.0
    if n and den:
        b1 = (m["str_"] - m["st"] * m["sr"] / n) / den
        b0 = m["sr"] / n - b1 * m["st"] / n
    else:
        b1 = b0 = None
    resid = daily.select(
        "t",
        (
            F.col("rev") - F.lit(b0).cast("double")
            - F.lit(b1).cast("double") * F.col("t")
        ).alias("e"),
    )
    lagged = resid.select(
        "e", F.lag("e").over(Window.orderBy("t")).alias("ep")
    )
    return lagged.agg(
        F.lit(n).cast("bigint").alias("n_days"),
        F.round(
            # try_divide: a perfect fit (all residuals zero) leaves DW
            # undefined -> NULL, matching DuckDB (r7 edge sweep)
            F.try_divide(
                F.sum(
                    F.when(
                        F.col("ep").isNotNull(),
                        (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
                    ).otherwise(0.0)
                ),
                F.sum(F.col("e") * F.col("e")),
            ),
            4,
        ).alias("dw_stat"),
    )


# ---------------------------------------------------------------------------
# stats_one_sample_t
# ---------------------------------------------------------------------------
@register(
    "stats_one_sample_t",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value), 4) AS sample_mean,
           ROUND((AVG(value) - 100.0)
                 / (STDDEV_SAMP(value) / SQRT(COUNT(*))), 4) + 0 AS t_stat,
           CAST(COUNT(*) - 1 AS BIGINT) AS df
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    """,
)
def stats_one_sample_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample t-test of mean purchase value against the fixed
    benchmark μ₀ = 100: t = (x̄ − μ₀)/(s/√n) — the 'did we beat the
    target?' test that anchors the t-family (`agg_welch_ttest` compares
    two groups; this compares one group to a NUMBER: an SLA, a plan, a
    contract). Reported with df for the caller's table lookup.

    One 1-row moment aggregate — the simplest member of the family,
    and deliberately so: the full inferential ladder from this to
    Welch/Wilcoxon/sign/SPRT shares the same combinable-moments
    machinery."""
    p = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select("value")
    )
    n = F.count(F.lit(1))
    return p.agg(
        n.cast("bigint").alias("n"),
        F.round(F.avg("value"), 4).alias("sample_mean"),
        (
            F.round(
                (F.avg("value") - 100.0)
                / (F.stddev_samp("value") / F.sqrt(n)),
                4,
            )
            + F.lit(0)
        ).alias("t_stat"),
        (n - 1).cast("bigint").alias("df"),
    )


# --- bootstrap confidence intervals ------------------------------------------

# Poisson(1) inverse-CDF thresholds scaled to 1e6 (floor(CDF(k)*1e6)):
# P(<=k) for k=0..5; u >= the last threshold draws weight 6. Literal
# integers so BOTH engines branch on identical comparisons.
_POIS_T = [367879, 735758, 919698, 981011, 996340, 999405]


@register(
    "stats_bootstrap_ci",
    oracle=f"""
    WITH b AS (SELECT UNNEST(generate_series(0, 31)) AS bi),
    u AS (
      SELECT o.o_orderstatus AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             b.bi,
             CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || '_'
                  || CAST(b.bi AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS u
      FROM orders o, b
    ),
    w AS (
      SELECT seg, cents, bi,
             (CASE
                {" ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS_T))}
                ELSE 6 END) AS wt
      FROM u
    ),
    m AS (  -- per-resample round-half-up integer mean (cents)
      SELECT seg, bi,
             CAST((2 * SUM(wt * cents) + SUM(wt)) // (2 * SUM(wt)) AS BIGINT)
               AS mean_c
      FROM w GROUP BY seg, bi HAVING SUM(wt) > 0
    ),
    r AS (
      SELECT seg, mean_c,
             ROW_NUMBER() OVER (PARTITION BY seg ORDER BY mean_c, bi) AS rk,
             COUNT(*) OVER (PARTITION BY seg) AS nb
      FROM m
    )
    SELECT seg, CAST(MAX(nb) AS BIGINT) AS n_resamples,
           CAST(MIN(CASE WHEN rk = 2 THEN mean_c END) AS BIGINT) AS ci_lo_c,
           CAST(MIN(CASE WHEN rk = nb - 1 THEN mean_c END) AS BIGINT) AS ci_hi_c
    FROM r GROUP BY seg
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value per status
    segment — the distribution-free uncertainty estimate every metric
    dashboard needs, in the ONLY form that scales: the POISSON
    bootstrap (each row independently draws a Poisson(1) replication
    weight per resample, so no resample ever needs a global
    with-replacement pass — the classic large-scale formulation from
    the public streaming-bootstrap literature).

    Determinism discipline: the per-(row, resample) uniform comes from
    md5 (reproducible on both engines), the inverse-CDF thresholds are
    integer literals, values are integer cents, resample means use the
    round-half-up integer division, and the CI endpoints are ORDER
    STATISTICS (2nd and 31st of 32 sorted integer means) rather than
    interpolated percentiles — nothing floats, so the hash gate holds.
    Shapes: explode ×32 rides the scan (no pre-shuffle), ONE
    (segment, resample) agg, then order stats over 32·|segments| rows."""
    from pyspark.sql import Window

    from ..catalog import table as _table

    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w = o.select(
        "o_orderkey",
        "seg",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bi"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_", F.col("o_orderkey").cast("string"), F.col("bi")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000,
    )
    wt = F.lit(6)
    for k in range(len(_POIS_T) - 1, -1, -1):
        wt = F.when(F.col("u") < _POIS_T[k], k).otherwise(wt)
    m = (
        w.withColumn("wt", wt)
        .groupBy("seg", "bi")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("swx"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "seg",
            "bi",
            F.expr("CAST((2 * swx + sw) DIV (2 * sw) AS BIGINT)").alias("mean_c"),
        )
    )
    wr = Window.partitionBy("seg").orderBy("mean_c", "bi")
    r = m.select(
        "seg",
        "mean_c",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("seg")).alias("nb"),
    )
    return r.groupBy("seg").agg(
        F.max("nb").cast("bigint").alias("n_resamples"),
        F.min(F.when(F.col("rk") == 2, F.col("mean_c")))
        .cast("bigint")
        .alias("ci_lo_c"),
        F.min(F.when(F.col("rk") == F.col("nb") - 1, F.col("mean_c")))
        .cast("bigint")
        .alias("ci_hi_c"),
    )
