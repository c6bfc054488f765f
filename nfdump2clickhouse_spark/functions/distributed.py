"""Distributed replacements for global-sort window primitives.

A window with ORDER BY and no PARTITION BY funnels the whole input
through ONE task — correct on a fixture, a deadlock at 100 TB. These
helpers give the exact same results with bounded per-task work via ONE
in-plan two-phase scan, :func:`_binned_scan`, that runs as ONE executed
job (no driver collect, no localCheckpoint):

1. every row gets an equi-width bin id over caller-supplied [lo, hi]
   bounds of the LEADING order column (:func:`binned_pid`) — parquet-
   footer min/max when the column is physical (driver metadata, no
   job), or ``lo=hi=None`` for a one-row min/max aggregate broadcast
   back in-plan (derived columns);
2. the rows hash-repartition on (bin id, group columns) and windows
   PARTITIONED BY them compute each row's bin-local running value plus
   its bin's subtotal;
3. a bounded one-row-per-(bin, group) window, partitioned by the group
   columns and ordered by the bin id, turns the subtotals into per-bin
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

_FULL = (Window.unboundedPreceding, Window.unboundedFollowing)


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


def binned_pid(
    df: DataFrame,
    col: str,
    lo=None,
    hi=None,
    nbins: int | None = None,
    desc: bool = False,
) -> DataFrame:
    """``df`` + a ``_pid`` bin-id column (see :func:`_bin_id`) monotone
    in ``col``'s ASC NULLS FIRST order, or its DESC NULLS LAST order with
    ``desc=True``; callers repartition on it themselves. ``lo``/``hi``
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
    nbins = nbins or _default_nbins(df)
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


def _binned_scan(
    df: DataFrame,
    group_cols: list[str],
    lead: str,
    order: list,
    lo,
    hi,
    nbins: int | None,
    arms,
    totals: dict[str, str] | None = None,
    desc: bool = False,
) -> DataFrame:
    """THE two-phase binned scan every public helper runs: ``df`` plus
    one bigint column per arm holding the row's value of that arm over
    the whole of its group (``group_cols``, ``[]`` for one global
    ordering) in ``order``, whose leading column ``lead`` is binned
    over ``lo``/``hi`` (:func:`binned_pid`, ``desc`` as there).

    ``arms(w)`` maps each output column to a pair of window expressions
    over ``w`` — the (bin, group) partition ordered by ``order``: the
    row's running value within its bin and its bin's total. The value
    over the whole group is the running value plus the sum of the totals
    of the group's earlier bins. ``totals`` maps a column name to an
    arm's output column; that column carries the arm's total over the
    whole group on every row. Totals come before the arm columns.

    Plan shape: one hash exchange on (bin id, group columns), shared by
    the arm windows and the offsets arm (ReusedExchange at runtime: the
    full-frame total carries the same ``order`` as the running value,
    so both arms demand identical columns below the exchange; extra
    payload columns the offsets arm prunes make it re-plan the lineage
    as a narrow column scan, still one executed job). The offsets arm
    is one window over one row per (bin, group), partitioned by the
    group columns and ordered by the bin id; with no group columns it is
    an unpartitioned nbins-row window, so ungrouped callers must be
    allowlisted in test_no_unpartitioned_windows_full_registry. It
    rejoins through one broadcast join."""
    p = binned_pid(df, lead, lo, hi, nbins, desc).repartition("_pid", *group_cols)
    pairs = arms(Window.partitionBy("_pid", *group_cols).orderBy(*order))
    for o, (run, tot) in pairs.items():
        p = p.withColumn(f"_lc_{o}", run).withColumn(f"_bt_{o}", tot)
    offw = Window.partitionBy(*group_cols).orderBy("_pid")
    before = offw.rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        p.select("_pid", *group_cols, *[f"_bt_{o}" for o in pairs])
        .distinct()
        .select(
            "_pid",
            *group_cols,
            *[
                F.coalesce(F.sum(f"_bt_{o}").over(before), F.lit(0)).alias(f"_off_{o}")
                for o in pairs
            ],
            *[
                F.coalesce(F.sum(f"_bt_{o}").over(offw.rowsBetween(*_FULL)), F.lit(0))
                .cast("bigint")
                .alias(t)
                for t, o in (totals or {}).items()
            ],
        )
    )
    out = p.join(F.broadcast(offs), ["_pid", *group_cols])
    for o in pairs:
        out = out.withColumn(o, (F.col(f"_off_{o}") + F.col(f"_lc_{o}")).cast("bigint"))
    return out.drop(
        "_pid", *[f"{k}{o}" for o in pairs for k in ("_lc_", "_bt_", "_off_")]
    )


def _sum_arms(sum_cols: list[str], prefix: str, exclusive: bool = False):
    """Running sums, NULL-free: through the row, or through the row
    before it with ``exclusive=True`` (first row 0)."""

    def arms(w):
        run = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
        return {
            prefix + c: (
                F.coalesce(F.sum(c).over(run), F.lit(0)),
                F.coalesce(F.sum(c).over(w.rowsBetween(*_FULL)), F.lit(0)),
            )
            for c in sum_cols
        }

    return arms


def _rank_arm(rank_col: str):
    """1-based row numbers."""
    return lambda w: {
        rank_col: (
            F.row_number().over(w),
            F.count(F.lit(1)).over(w.rowsBetween(*_FULL)),
        )
    }


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
    with ``exclusive=True``, the form bin-packing wants. The ordering
    must be total (callers append a unique tiebreaker, SURVEY §5.3) so
    the prefix is deterministic across partitionings. ``lo``/``hi``
    bound the leading order column (``None``: the in-plan min/max arm).

    Adds one ``prefix + col`` bigint column per sum col, and, for every
    col in ``totals``, a ``prefix + "tot_" + col`` bigint grand-total
    column carried on every row (NULL-free: empty bins contribute 0, an
    empty input yields an empty frame)."""
    return _binned_scan(
        df, [], order_cols[0], order_cols, lo, hi, nbins,
        _sum_arms(sum_cols, prefix, exclusive),
        {f"{prefix}tot_{c}": prefix + c for c in totals or []},
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
    """:func:`binned_prefix_sums` WITHIN each group (inclusive frame):
    a ``partitionBy(group)`` cumulative window whose per-group row count
    can grow domain-sized, without funneling a group through one task.
    The ``prefix + "tot_" + col`` totals are per-GROUP."""
    return _binned_scan(
        df, group_cols, order_cols[0], order_cols, lo, hi, nbins,
        _sum_arms(sum_cols, prefix),
        {f"{prefix}tot_{c}": prefix + c for c in totals or []},
    )


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
    """Exact 1-based global row number over ``(lead [asc|desc],
    *tiebreaks asc)``, equal to ``ROW_NUMBER() OVER (ORDER BY ...)``
    (DESC NULLS LAST, Spark's ``F.desc`` default) for a total order.
    ``lo``/``hi`` bound the RAW lead column (``None``: the in-plan
    min/max arm). ``total_col`` names an optional per-row column holding
    the total row count."""
    return _binned_scan(
        df, [], lead, [F.desc(lead) if desc else lead, *tiebreaks], lo, hi, nbins,
        _rank_arm(rank_col), {total_col: rank_col} if total_col else None, desc,
    )


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
    ORDER BY order_cols)`` for a total order, without funneling a whole
    group through one task (a HANDFUL of huge groups would each be one
    task under a plain group window). ``lo``/``hi`` bound the LEADING
    ORDER column (groups share the bins)."""
    return _binned_scan(
        df, group_cols, order_cols[0], order_cols, lo, hi, nbins, _rank_arm(rank_col)
    )


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
