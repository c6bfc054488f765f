"""Query-key registry backing ``__spark_entry__.py``.

Every operator from SURVEY §2 registers itself here as a (spark_fn,
oracle_sql) pair under its stable query key. ``__spark_entry__.queries()``
and ``oracle_sql()`` are thin views over this registry; the driver compares
each pair via DuckDB at sf0.01 (row-count + schema + value-hash).

Conventions enforced by review (SURVEY §5.3):
- every float output rounded (``round(x, 4)``)
- every computed column aliased identically in Spark and oracle SQL
- no raw ``events.ts`` in hash-checked output (ns vs µs)
- window ORDER BYs carry a unique tiebreaker
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; ``oracle`` is the DuckDB-equivalent SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in _REGISTRY:
            raise ValueError(f"duplicate query key: {key}")
        _REGISTRY[key] = QuerySpec(key=key, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _evidence_detail() -> dict[str, tuple[str, int]]:
    """Latest driver verdict per key from ``CORRECTNESS_r*.json`` at repo root.

    Returns ``{key: ("pass" | "err", round)}`` for every key the driver's
    sweep has ever reached (later rounds override earlier ones). "pass"
    means either a full rows+schema+hash match or a clean rows-only run
    (``err == 'no_oracle'`` with a row count); anything else — a traceback,
    a mismatch — is "err". The CORRECTNESS files are committed to git, so
    this ordering input is part of the tracked repo state, not an
    environment accident (ADVICE r3 medium). Missing/unreadable files
    degrade to ``{}`` so the static registration order still applies.
    """
    import json
    import re
    from pathlib import Path

    evidence: dict[str, tuple[str, int]] = {}
    try:
        root = Path(__file__).resolve().parent.parent
        files = sorted(
            root.glob("CORRECTNESS_r*.json"),
            key=lambda p: int(re.sub(r"\D", "", p.stem) or 0),
        )
        for path in files:
            rnd = int(re.sub(r"\D", "", path.stem) or 0)
            try:
                rows = json.loads(path.read_text())
            except (OSError, ValueError):
                continue
            if not isinstance(rows, dict):
                continue
            for key, row in rows.items():
                if not isinstance(row, dict):
                    continue
                err = row.get("err")
                ok = (
                    err is None
                    and row.get("rows_match") is True
                    and row.get("schema_match") is True
                    and row.get("hash_match") is True
                ) or (err == "no_oracle" and row.get("spark_rows") is not None)
                evidence[key] = ("pass" if ok else "err", rnd)
    except Exception:
        return {}
    return evidence


def _certification_evidence() -> dict[str, str]:
    """Latest driver verdict per key — string view over ``_evidence_detail``."""
    return {k: v for k, (v, _rnd) in _evidence_detail().items()}


def source_hash(fn: Callable) -> str:
    """Stable hash of a query function's source (its certified identity).

    A key's driver "pass" certifies the implementation the driver ran.
    When the builder later rewrites that implementation, the old pass no
    longer vouches for the new code, so the sweep order must surface the
    key for re-certification (ADVICE r3 medium). Granularity is the
    registered function body: edits to shared helpers it calls are not
    detected (documented limitation — helper refactors should keep the
    hash-oracle tests green, which is the builder-side gate).
    """
    import hashlib
    import inspect
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(fn))
    except (OSError, TypeError):
        return ""
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def _certified_hashes() -> dict[str, dict]:
    """Committed snapshot of each certified key's source hash.

    ``EVIDENCE_HASHES.json`` maps ``key -> {"hash": ..., "round": N}``;
    written by ``tools/refresh_evidence_hashes.py`` at round start (when
    the working tree still equals the tree the driver certified). A key
    whose current source hash differs from its recorded hash has been
    rewritten since certification and is re-queued for the sweep.
    """
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "EVIDENCE_HASHES.json"
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def _sweep_order(keys: list[str]) -> list[str]:
    """Registry order for the driver's budget-capped correctness sweep.

    The driver certifies keys front-to-back under a fixed window (r1–r3
    each covered exactly the first 50 registered keys), so ordering IS the
    certification schedule. Four tiers, stable within each:

    0. keys whose latest driver row is an ERR/mismatch (re-certify first),
    1. keys with a stale pass — implementation rewritten since the driver
       certified it (source hash no longer matches ``EVIDENCE_HASHES.json``),
    2. keys the driver has never reached (registration order = cheap hash
       families first, per ``operators/__init__`` import order),
    3. keys already certified (pass / rows-only clean) on their current
       source — re-sweeping them certifies nothing new, so they go last.
    """
    evidence = _certification_evidence()
    recorded = _certified_hashes()

    def tier(k: str) -> int:
        v = evidence.get(k)
        if v == "err":
            return 0
        if v == "pass":
            rec = recorded.get(k)
            if (
                isinstance(rec, dict)
                and rec.get("hash")
                and rec["hash"] != source_hash(_REGISTRY[k].fn)
            ):
                return 1  # certified an older implementation — re-queue
            return 3
        return 2  # never swept

    return sorted(keys, key=tier)  # sort is stable


def all_specs() -> dict[str, QuerySpec]:
    _load_operators()
    order = _sweep_order(list(_REGISTRY))
    return {k: _REGISTRY[k] for k in order}


def queries() -> dict[str, QueryFn]:
    return {k: s.fn for k, s in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {k: s.oracle for k, s in all_specs().items() if s.oracle is not None}


_loaded = False


def _load_operators() -> None:
    """Import every operator module exactly once (triggers registration)."""
    global _loaded
    if _loaded:
        return
    from . import operators  # noqa: F401  (imports all submodules)

    _loaded = True
