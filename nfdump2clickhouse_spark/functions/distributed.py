"""Distributed replacements for global-sort window primitives.

A window with ORDER BY and no PARTITION BY funnels the whole input
through ONE task — correct on a fixture, a deadlock at 100 TB. These
helpers give the exact same results with bounded per-task work via an
IN-PLAN two-phase scan that runs as ONE executed job (no driver
collect, no localCheckpoint):

1. every row gets an equi-width bin id over caller-supplied [lo, hi]
   bounds of the LEADING order column — parquet-footer min/max when the
   column is physical (driver metadata, no job), or ``lo=hi=None`` for
   a one-row min/max aggregate broadcast back in-plan (derived
   columns);
2. the rows hash-repartition on the bin id and a window PARTITIONED BY
   it computes each row's bin-local result plus its bin's subtotal;
3. a bounded one-row-per-bin window turns the subtotals into per-bin
   start offsets (and grand totals), which rejoin via broadcast.

Monotonicity of the bin id in the leading key is the only correctness
requirement — bin BALANCE affects parallelism, never values — so
inexact bounds (truncated footer stats, stale min/max) still give exact
results: values below lo get negative bin ids, values above hi clamp
into the top bin, both order-preserving. The bin id is a pure function
of the row and the bounds, so re-executed tasks recompute identical
bins (no sampled split points that could drift between passes).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# NULL leading keys sort first ASC (NULLS FIRST) and last DESC (NULLS
# LAST): their bin sits below / above every finite bin id
_NULL_BIN = 1 << 62


def _default_nbins(df: DataFrame) -> int:
    """Bins scale with the cluster, never with the data."""
    return max(df.sparkSession.sparkContext.defaultParallelism, 2) * 8


def _micros(b):
    """A ``datetime`` bound as its (UTC) epoch-microsecond count, to
    match ``unix_micros`` on a timestamp column; other bounds pass."""
    if not isinstance(b, datetime.datetime):
        return b
    if b.tzinfo is None:
        b = b.replace(tzinfo=datetime.timezone.utc)
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    return (b - epoch) / datetime.timedelta(microseconds=1)


def _bin_id(x: Column, lo: Column, hi: Column, nbins: int, desc: bool) -> Column:
    """THE equi-width bin-id expression (bigint) over ``x``, monotone in
    its ASC NULLS FIRST order (``desc=False``) or DESC NULLS LAST order
    (``desc=True``: ``x`` negates, so ``lo``/``hi`` must bound ``-x``).
    NULLs take the sentinel below (ASC) or above (DESC) every finite bin;
    values under ``lo`` floor negative, values over ``hi`` clamp into the
    top bin. NULL bounds (empty input) or ``lo == hi`` put every
    non-NULL row in bin 0. ``lo``/``hi`` are double Columns: literals
    constant-fold away the guard, broadcast columns evaluate it per
    row."""
    v = -x if desc else x
    null_pid = F.lit(_NULL_BIN if desc else -_NULL_BIN).cast("bigint")
    return F.when(x.isNull(), null_pid).otherwise(
        F.when(lo.isNull() | (hi == lo), F.lit(0).cast("bigint")).otherwise(
            F.least(
                F.floor((v.cast("double") - lo) / ((hi - lo) / nbins)),
                F.lit(nbins - 1).cast("bigint"),
            )
        )
    )


def _with_bin_pid(
    df: DataFrame, col: str, lo, hi, nbins: int, desc: bool = False
) -> DataFrame:
    """``df`` + a ``_pid`` bin-id column over ``col`` (see
    :func:`_bin_id`; callers repartition on it themselves). ``lo``/``hi``
    are always the RAW column's bounds; timestamp columns bin on their
    microsecond count. Literal bounds keep the bin id a pure plan
    literal (no join, zero jobs); ``lo=None``/``hi=None`` derives the
    bounds IN-PLAN from a broadcast one-row min/max aggregate over
    ``df`` itself (for DERIVED leading columns with no parquet footer to
    read — still zero driver jobs and deterministic on re-execution:
    min/max are pure functions of the input, so retried tasks recompute
    identical bin ids). The broadcast arm re-plans ``df``'s lineage;
    callers whose input hangs below an aggregation get that subtree's
    exchange back via ReusedExchange, so the upstream scan still runs
    once."""
    x = F.col(col)
    if str(df.schema[col].dataType).startswith("Timestamp"):
        x = F.unix_micros(x)
    if lo is not None and hi is not None:
        blo, bhi = float(_micros(lo)), float(_micros(hi))
        if desc:
            blo, bhi = -bhi, -blo
        return df.withColumn("_pid", _bin_id(x, F.lit(blo), F.lit(bhi), nbins, desc))
    v = -x if desc else x
    b = df.agg(
        F.min(v).cast("double").alias("_blo"), F.max(v).cast("double").alias("_bhi")
    )
    pid = _bin_id(x, F.col("_blo"), F.col("_bhi"), nbins, desc)
    return df.join(F.broadcast(b)).withColumn("_pid", pid).drop("_blo", "_bhi")


def binned_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    lo=None,
    hi=None,
    exclusive: bool = False,
    prefix: str = "_ps_",
    nbins: int | None = None,
    totals: list[str] | None = None,
) -> DataFrame:
    """Running totals of every ``sum_cols`` column over the global
    ``order_cols`` ordering (asc, nulls first), equal to
    ``SUM(col) OVER (ORDER BY order_cols ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW)`` — or ``AND 1 PRECEDING`` (first row 0)
    with ``exclusive=True``, the form bin-packing wants — with ZERO
    driver jobs. The ordering must be total (callers append a unique
    tiebreaker, SURVEY §5.3) so the prefix is deterministic across
    partitionings.

    ``lo``/``hi`` bound the leading order column's non-null domain
    (parquet footer stats, or one min/max agg for derived columns);
    only monotonicity of the derived bin id matters, so inexact bounds
    are safe. Adds one ``prefix + col`` bigint column per sum col, and,
    for every col in ``totals``, a ``prefix + "tot_" + col`` bigint
    grand-total column carried on every row (NULL-free: empty bins
    contribute 0, an empty input yields an empty frame). Plan shape:
    one hash exchange on the bin id shared by the main window and the
    offsets arm (ReusedExchange at runtime), a bounded nbins-row
    unpartitioned window on the offsets arm (one row per bin — bins
    scale with the cluster, never the data; callers must be allowlisted
    in test_no_unpartitioned_windows_full_registry), and one broadcast
    join."""
    nbins = nbins or _default_nbins(df)
    p = _with_bin_pid(df, order_cols[0], lo, hi, nbins).repartition("_pid")
    w_run = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    # full-frame spec carries the SAME orderBy (value-identical on an
    # unbounded frame) so both arms demand identical columns below the
    # exchange — required for the runtime ReusedExchange match
    w_bin = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wout = p
    for c in sum_cols:
        wout = wout.withColumn(
            f"_lc_{c}", F.coalesce(F.sum(c).over(w_run), F.lit(0))
        ).withColumn(f"_bt_{c}", F.coalesce(F.sum(c).over(w_bin), F.lit(0)))
    offw = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    totw = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.coalesce(F.sum(f"_bt_{c}").over(offw), F.lit(0)).alias(f"_off_{c}")
        for c in sum_cols
    ]
    tot_cols = [
        F.coalesce(F.sum(f"_bt_{c}").over(totw), F.lit(0))
        .cast("bigint")
        .alias(f"{prefix}tot_{c}")
        for c in (totals or [])
    ]
    offs = (
        wout.select("_pid", *[f"_bt_{c}" for c in sum_cols])
        .distinct()
        .select("_pid", *off_cols, *tot_cols)
    )
    out = wout.join(F.broadcast(offs), "_pid")
    for c in sum_cols:
        out = out.withColumn(
            prefix + c,
            (F.col(f"_off_{c}") + F.col(f"_lc_{c}")).cast("bigint"),
        )
    drop = (
        ["_pid"]
        + [f"_lc_{c}" for c in sum_cols]
        + [f"_bt_{c}" for c in sum_cols]
        + [f"_off_{c}" for c in sum_cols]
    )
    return out.drop(*drop)


def binned_grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    lo=None,
    hi=None,
    rank_col: str = "_grank",
    nbins: int | None = None,
) -> DataFrame:
    """Exact 1-based rank WITHIN each group over ``order_cols`` (asc,
    nulls first), equal to ``ROW_NUMBER() OVER (PARTITION BY group_cols
    ORDER BY order_cols)`` for a total order, with ZERO driver jobs and
    without funneling a whole group through one task (a HANDFUL of huge
    groups would each be one task under a plain group window).
    ``lo``/``hi`` bound the LEADING ORDER column (groups share the
    bins). The offsets arm here is a window PARTITIONED BY the group
    columns over one row per (bin, group) — bounded by nbins x |groups|
    and, being partitioned, needs no unpartitioned-window
    allowlisting."""
    nbins = nbins or _default_nbins(df)
    p = _with_bin_pid(df, order_cols[0], lo, hi, nbins).repartition(
        "_pid", *group_cols
    )
    w_rn = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    w_cnt = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wout = p.withColumn("_rn", F.row_number().over(w_rn)).withColumn(
        "_cnt", F.count(F.lit(1)).over(w_cnt)
    )
    offw = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        wout.select("_pid", *group_cols, "_cnt")
        .distinct()
        .select(
            "_pid",
            *group_cols,
            F.coalesce(F.sum("_cnt").over(offw), F.lit(0)).alias("_goff"),
        )
    )
    return (
        wout.join(F.broadcast(offs), ["_pid", *group_cols])
        .withColumn(rank_col, (F.col("_goff") + F.col("_rn")).cast("bigint"))
        .drop("_pid", "_rn", "_cnt", "_goff")
    )


def binned_grouped_prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    sum_cols: list[str],
    lo=None,
    hi=None,
    prefix: str = "_ps_",
    nbins: int | None = None,
    totals: list[str] | None = None,
) -> DataFrame:
    """Running totals WITHIN each group over ``order_cols`` (asc, nulls
    first) — the grouped twin of :func:`binned_prefix_sums` (r12,
    VERDICT r11 next-#8): splits a ``partitionBy(group)`` cumulative
    window whose per-group row count can grow domain-sized into
    ``(bin, group)`` partitions with bounded per-task work. Adds one
    ``prefix + col`` bigint running-total column per sum col and, for
    every col in ``totals``, a ``prefix + "tot_" + col`` bigint
    per-GROUP grand total. The offsets arm is a window PARTITIONED BY
    the group columns over one row per (bin, group) — bounded by
    nbins x |groups|, no unpartitioned-window allowlisting needed.
    Monotonicity contract of ``lo``/``hi`` as in the ungrouped form."""
    nbins = nbins or _default_nbins(df)
    p = _with_bin_pid(df, order_cols[0], lo, hi, nbins).repartition(
        "_pid", *group_cols
    )
    w_run = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same orderBy on the full-frame spec: both arms must demand
    # identical columns below the exchange for the ReusedExchange match
    w_bin = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wout = p
    for c in sum_cols:
        wout = wout.withColumn(
            f"_lc_{c}", F.coalesce(F.sum(c).over(w_run), F.lit(0))
        ).withColumn(f"_bt_{c}", F.coalesce(F.sum(c).over(w_bin), F.lit(0)))
    offw = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totw = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.coalesce(F.sum(f"_bt_{c}").over(offw), F.lit(0)).alias(f"_off_{c}")
        for c in sum_cols
    ]
    tot_cols = [
        F.coalesce(F.sum(f"_bt_{c}").over(totw), F.lit(0))
        .cast("bigint")
        .alias(f"{prefix}tot_{c}")
        for c in (totals or [])
    ]
    offs = (
        wout.select("_pid", *group_cols, *[f"_bt_{c}" for c in sum_cols])
        .distinct()
        .select("_pid", *group_cols, *off_cols, *tot_cols)
    )
    out = wout.join(F.broadcast(offs), ["_pid", *group_cols])
    for c in sum_cols:
        out = out.withColumn(
            prefix + c,
            (F.col(f"_off_{c}") + F.col(f"_lc_{c}")).cast("bigint"),
        )
    drop = (
        ["_pid"]
        + [f"_lc_{c}" for c in sum_cols]
        + [f"_bt_{c}" for c in sum_cols]
        + [f"_off_{c}" for c in sum_cols]
    )
    return out.drop(*drop)


def binned_global_rank(
    df: DataFrame,
    lead: str,
    tiebreaks: list[str],
    rank_col: str = "_grank",
    lo=None,
    hi=None,
    desc: bool = False,
    total_col: str | None = None,
    nbins: int | None = None,
) -> DataFrame:
    """In-plan exact 1-based global row number over
    ``(lead [asc|desc], *tiebreaks asc)``, equal to ``ROW_NUMBER()
    OVER (ORDER BY ...)`` (DESC NULLS LAST, Spark's ``F.desc`` default)
    for a total order, with ZERO driver jobs. ``lo``/``hi`` bound the
    RAW lead column (parquet footer stats; ``None`` = in-plan broadcast
    min/max arm). ``total_col`` names an optional per-row column
    holding the total row count.

    Plan shape: one hash exchange on the bin id; the bounded nbins-row
    offsets arm (callers must be allowlisted in
    test_no_unpartitioned_windows_full_registry) carries the SAME
    orderBy as the ranking window so both arms demand identical order
    columns below the exchange — runtime ReusedExchange collapses them
    whenever the caller carries no extra payload columns (extra columns
    are pruned from the offsets arm, which then re-plans the lineage as
    a NARROW column scan: still one executed job, documented tradeoff)."""
    nbins = nbins or _default_nbins(df)
    order = [F.desc(lead) if desc else F.asc(lead)] + [F.asc(c) for c in tiebreaks]
    p = _with_bin_pid(df, lead, lo, hi, nbins, desc).repartition("_pid")
    w_rn = Window.partitionBy("_pid").orderBy(*order)
    w_cnt = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wout = p.withColumn("_rn", F.row_number().over(w_rn)).withColumn(
        "_cnt", F.count(F.lit(1)).over(w_cnt)
    )
    offw = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    totw = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = (
        [F.sum("_cnt").over(totw).cast("bigint").alias("_gtot")]
        if total_col
        else []
    )
    offs = (
        wout.select("_pid", "_cnt")
        .distinct()
        .select(
            "_pid",
            F.coalesce(F.sum("_cnt").over(offw), F.lit(0)).alias("_goff"),
            *tot,
        )
    )
    out = (
        wout.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, (F.col("_goff") + F.col("_rn")).cast("bigint"))
        .drop("_pid", "_rn", "_cnt", "_goff")
    )
    if total_col:
        out = out.withColumnRenamed("_gtot", total_col)
    return out


def binned_exact_ntile(
    df: DataFrame,
    k: int,
    lead: str,
    tiebreaks: list[str],
    out_col: str,
    lo=None,
    hi=None,
    desc: bool = False,
    nbins: int | None = None,
) -> DataFrame:
    """SQL ``ntile(k) OVER (ORDER BY lead [asc|desc], tiebreaks)``
    computed from :func:`binned_global_rank` with the tile arithmetic
    entirely in-plan — the standard semantics, first ``n mod k`` tiles
    take ``ceil(n/k)`` rows and the rest ``floor(n/k)``, bit-identical
    to the single-task window; n rides the offsets broadcast instead of
    a collect."""
    rank_col = f"_grank_{out_col}"
    r = binned_global_rank(
        df, lead, tiebreaks, rank_col, lo, hi, desc, total_col="_ntot", nbins=nbins
    )
    q = F.expr(f"_ntot DIV {k}L")
    rr = F.expr(f"_ntot % {k}L")
    boundary = rr * (q + 1)
    rk = F.col(rank_col)
    # all-integer DIV (no float division to round across a tile edge);
    # GREATEST(q,1) guards the divisor when n < k (q = 0)
    tile = F.when(
        rk <= boundary,
        F.expr(f"({rank_col} - 1L) DIV (_ntot DIV {k}L + 1L)"),
    ).otherwise(
        rr
        + F.expr(
            f"({rank_col} - 1L - (_ntot % {k}L) * (_ntot DIV {k}L + 1L))"
            f" DIV GREATEST(_ntot DIV {k}L, 1L)"
        )
    )
    return r.withColumn(out_col, (tile + 1).cast("int")).drop(rank_col, "_ntot")


def binned_pid(
    df: DataFrame, col: str, lo=None, hi=None, nbins: int | None = None
) -> DataFrame:
    """Public entry to the bin-id mechanism for operators that build
    their own two-phase scan on top of it (e.g. last/first-value
    boundary carries): ``df`` + a ``_pid`` column monotone in ``col``'s
    ASC NULLS FIRST order, bounds from literals or the in-plan
    broadcast min/max arm (see :func:`_with_bin_pid`). Callers
    repartition on ``_pid`` themselves."""
    nbins = nbins or _default_nbins(df)
    return _with_bin_pid(df, col, lo, hi, nbins)
