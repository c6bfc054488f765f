"""nfdump filter-language compiler tests: compiled predicates must agree
with hand-written Column predicates on synthetic flow data, errors must
be raised with context, and `net` clauses must push down to the scan."""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from nfdump2clickhouse_spark.functions.ip import ipv4_to_num
from nfdump2clickhouse_spark.functions.nffilter import NfFilterError, compile_filter
from nfdump2clickhouse_spark.schemas import FLOWS
from nfdump2clickhouse_spark.sources.flows import write_flow_files


@pytest.fixture(scope="module")
def flows(spark):
    d = tempfile.mkdtemp(prefix="sf_nff_")
    write_flow_files(spark, d, n_files=3, rows_per_file=300)
    raw = spark.read.schema(FLOWS).parquet(os.path.join(d, "*"))
    return raw.withColumns(
        {"sa_num": ipv4_to_num(F.col("sa")), "da_num": ipv4_to_num(F.col("da"))}
    ).cache()


CASES = [
    ("src ip 10.1.2.3", lambda c: c("sa") == "10.1.2.3"),
    ("ip 192.168.1.5", lambda c: (c("sa") == "192.168.1.5") | (c("da") == "192.168.1.5")),
    ("src net 10.1.0.0/16", lambda c: (c("sa_num") >= 167837696) & (c("sa_num") <= 167903231)),
    (
        "net 192.168.0.0/16",
        lambda c: ((c("sa_num") >= 3232235520) & (c("sa_num") <= 3232301055))
        | ((c("da_num") >= 3232235520) & (c("da_num") <= 3232301055)),
    ),
    ("dst port 443", lambda c: c("dp") == 443),
    ("src port > 40000", lambda c: c("sp") > 40000),
    ("port in [80 443 53]", lambda c: c("sp").isin([80, 443, 53]) | c("dp").isin([80, 443, 53])),
    ("proto tcp", lambda c: F.upper(c("pr")) == "TCP"),
    ("packets > 1k", lambda c: c("ipkt") > 1000),
    ("bytes >= 50k", lambda c: c("ibyt") >= 50000),
    # duration literals are MILLISECONDS (nfdump nftree.c / libnfdump
    # filter: msec-resolution duration fed unscaled to the comparator)
    ("duration < 30000", lambda c: c("td") * 1000 < 30000),
    ("flags AS", lambda c: c("flg").contains("A") & c("flg").contains("S")),
    (
        "src net 10.0.0.0/14 and dst port 443 and proto tcp",
        lambda c: (c("sa_num") >= 167772160)
        & (c("sa_num") <= 168034303)
        & (c("dp") == 443)
        & (F.upper(c("pr")) == "TCP"),
    ),
    (
        # null-safe proto (r4 fuzz finding): a null-proto record IS
        # "not udp and not icmp" — two-valued filter algebra, not SQL
        # three-valued logic
        "not (proto udp or proto icmp)",
        lambda c: ~(
            F.upper(c("pr")).eqNullSafe("UDP")
            | F.upper(c("pr")).eqNullSafe("ICMP")
        ),
    ),
    (
        "dst port 53 or dst port 443 and packets > 100",
        # nfdump precedence: and binds tighter than or
        lambda c: (c("dp") == 53) | ((c("dp") == 443) & (c("ipkt") > 100)),
    ),
]


@pytest.mark.parametrize("text,ref", CASES, ids=[c[0] for c in CASES])
def test_compiled_filter_matches_reference_predicate(flows, text, ref):
    got = flows.filter(compile_filter(text)).count()
    want = flows.filter(ref(F.col)).count()
    assert got == want, text
    # at least some case in the suite must be non-trivial both ways;
    # individual cases may legitimately match 0 rows on synthetic data


def test_filter_suite_has_selective_cases(flows):
    """Guard against the whole suite silently matching 0 or all rows."""
    total = flows.count()
    nonzero = sum(
        1
        for text, _ in CASES
        if 0 < flows.filter(compile_filter(text)).count() < total
    )
    assert nonzero >= 8


@pytest.mark.parametrize(
    "bad",
    [
        "src",
        "ip",
        "net 10.0.0.0",          # not a CIDR
        "port in [80 443",       # unclosed list
        "(proto tcp",            # unclosed paren
        "proto tcp extra",       # trailing input
        "flags XYZ",             # bad flag letters
        "packets > fast",        # non-numeric
        "proto 41",              # unmapped IANA number (would match nothing)
        "port 1k",               # scale suffix only valid on volume kinds
        "duration > 1k",         # ... '1k ms' would be a silent trap
        "port in [80 1k]",       # scaled literal inside a port list
    ],
)
def test_syntax_errors_raise(bad):
    with pytest.raises(NfFilterError):
        compile_filter(bad)


def test_net_clause_pushes_down(spark, flows):
    """The compiled numeric range must reach the parquet scan."""
    from nfdump2clickhouse_spark.plans import pushed_filters
    from nfdump2clickhouse_spark.sources.sinks import write_flows_partitioned

    d = tempfile.mkdtemp(prefix="sf_nffpd_")
    out = os.path.join(d, "flows")
    enriched = flows.withColumns(
        {"flowsrc": F.lit("t"), "dt": F.to_date("ts")}
    )
    write_flows_partitioned(enriched, out, mode="overwrite")
    back = spark.read.parquet(out)
    q = back.filter(compile_filter("src net 10.1.0.0/16")).select("sa", "ipkt")
    pf = " ".join(pushed_filters(q))
    assert "sa_num" in pf and "GreaterThanOrEqual" in pf, pf


EXT_CASES = [
    ("any", lambda c: F.lit(True)),
    ("src host 10.1.2.3", lambda c: c("sa") == "10.1.2.3"),
    (
        "ip in [10.1.2.3 10.4.5.6]",
        lambda c: c("sa").isin(["10.1.2.3", "10.4.5.6"])
        | c("da").isin(["10.1.2.3", "10.4.5.6"]),
    ),
    ("proto 6", lambda c: F.upper(c("pr")) == "TCP"),
    ("proto 17", lambda c: F.upper(c("pr")) == "UDP"),
    (
        "src net 10.1.0.0 255.255.0.0",
        lambda c: (c("sa_num") >= 167837696) & (c("sa_num") <= 167903231),
    ),
    ("pps > 10", lambda c: (c("td") > 0) & (c("ipkt") / c("td") > 10)),
    ("bps < 1m", lambda c: (c("td") > 0) & (8 * c("ibyt") / c("td") < 1000000)),
    ("bpp >= 500", lambda c: (c("ipkt") > 0) & (c("ibyt") / c("ipkt") >= 500)),
    (
        "any and not proto 1",
        lambda c: F.lit(True) & ~F.upper(c("pr")).eqNullSafe("ICMP"),
    ),
    # bare protocol shorthand + router ip (published nfdump grammar)
    ("tcp", lambda c: F.upper(c("pr")).eqNullSafe("TCP")),
    (
        "udp and dst port 53",
        lambda c: F.upper(c("pr")).eqNullSafe("UDP") & (c("dp") == 53),
    ),
    ("not icmp", lambda c: ~F.upper(c("pr")).eqNullSafe("ICMP")),
    ("router ip 172.16.0.1", lambda c: c("ra") == "172.16.0.1"),
    (
        "ipv4",
        lambda c: c("sa").isNotNull() & ~c("sa").contains(":"),
    ),
    (
        "ipv6 or tcp",
        lambda c: F.coalesce(c("sa").contains(":"), F.lit(False))
        | F.upper(c("pr")).eqNullSafe("TCP"),
    ),
]


@pytest.mark.parametrize("text,expected", EXT_CASES, ids=[c[0] for c in EXT_CASES])
def test_extended_grammar_agrees(flows, text, expected):
    got = flows.filter(compile_filter(text)).count()
    want = flows.filter(expected(F.col)).count()
    assert got == want, f"{text}: {got} != {want}"


def test_duration_literal_unit_is_milliseconds(spark):
    """Golden pin for the `duration` literal unit (VERDICT r6 next-#4):
    nfdump's filter engines compare duration in MILLISECONDS — v1.6
    nftree.c computes (last*1000+msec_last)−(first*1000+msec_first) and
    v1.7 libnfdump/filter computes msecLast−msecFirst, both fed unscaled
    to the comparator — while our td column is seconds. A 250 ms flow
    (td=0.25) must match `duration < 500` and a 2 s flow must not."""
    df = spark.createDataFrame([(0.25, "a"), (2.0, "b"), (0.5, "c")], "td double, tag string")
    short = [r.tag for r in df.filter(compile_filter("duration < 500")).collect()]
    assert sorted(short) == ["a"]
    exact = [r.tag for r in df.filter(compile_filter("duration 500")).collect()]
    assert exact == ["c"]
    long_ = [r.tag for r in df.filter(compile_filter("duration > 1000")).collect()]
    assert long_ == ["b"]


def test_family_selectors_exclude_addressless_records(spark):
    """Records with sa NULL (EXgenericFlow-only nffile records) belong to
    NEITHER address family: nfdump's filter algebra is two-valued, so
    `ipv4` must not pick them up via negation (ADVICE r6)."""
    df = spark.createDataFrame(
        [("10.0.0.1",), ("2001:db8::1",), (None,)], "sa string"
    )
    v4 = [r.sa for r in df.filter(compile_filter("ipv4")).collect()]
    v6 = [r.sa for r in df.filter(compile_filter("ipv6")).collect()]
    assert v4 == ["10.0.0.1"]
    assert v6 == ["2001:db8::1"]
    # two-valued algebra: the families partition only the addressed rows
    both = df.filter(compile_filter("ipv4 or ipv6")).count()
    assert both == 2


@pytest.mark.parametrize(
    "bad",
    [
        "src any",                      # any takes no direction
        "net 10.0.0.0 255.0.255.0",     # non-contiguous mask
        "net 10.0.0.0",                 # net needs CIDR or mask
        "ip in [10.1.2.3",              # unclosed list
        "src tcp",                      # protocols take no direction
        "router 10.0.0.99",             # router requires 'ip'
        "dst router ip x",              # router takes no direction
    ],
)
def test_extended_grammar_errors(bad):
    with pytest.raises(NfFilterError):
        compile_filter(bad)


# --- randomized round-trip: random AST → (filter text, reference Column) ----


def _rand_ast(rng, depth=0):
    """Random filter AST node: (text, predicate-builder) pairs built
    together so the compiler is checked against an independently
    constructed reference predicate."""
    if depth < 2 and rng.random() < 0.4:
        kind = rng.choice(["and", "or", "not"])
        if kind == "not":
            t, p = _rand_ast(rng, depth + 1)
            return f"not ({t})", lambda c, p=p: ~p(c)
        lt, lp = _rand_ast(rng, depth + 1)
        rt, rp = _rand_ast(rng, depth + 1)
        if kind == "and":
            return f"({lt}) and ({rt})", lambda c, lp=lp, rp=rp: lp(c) & rp(c)
        return f"({lt}) or ({rt})", lambda c, lp=lp, rp=rp: lp(c) | rp(c)
    leaf = rng.choice(
        ["port", "net", "proto", "packets", "bytes", "pps", "bare", "family",
         "duration"]
    )
    if leaf == "duration":  # literal unit is MILLISECONDS (r7 citation fix)
        v = rng.choice([500, 5000, 30000, 120000])
        op = rng.choice(["< ", "> ", ">= ", "<= "])
        ops = {"< ": lambda x: x < v, "> ": lambda x: x > v,
               ">= ": lambda x: x >= v, "<= ": lambda x: x <= v}[op]
        return f"duration {op}{v}", lambda c, ops=ops: ops(c("td") * 1000)
    if leaf == "bare":  # bare protocol shorthand primary
        name = rng.choice(["tcp", "udp", "icmp"])
        return name, lambda c, w=name.upper(): F.upper(c("pr")).eqNullSafe(w)
    if leaf == "family":  # ipv4/ipv6 address-family selector
        fam = rng.choice(["ipv4", "ipv6"])
        if fam == "ipv6":
            return fam, lambda c: F.coalesce(c("sa").contains(":"), F.lit(False))
        return fam, lambda c: c("sa").isNotNull() & ~c("sa").contains(":")
    if leaf == "port":
        d = rng.choice(["src ", "dst ", ""])
        v = rng.choice([53, 80, 443, 8080, 40000])
        op = rng.choice(["", "< ", "> ", ">= ", "<= "])
        ops = {"": lambda x: x == v, "< ": lambda x: x < v, "> ": lambda x: x > v,
               ">= ": lambda x: x >= v, "<= ": lambda x: x <= v}[op]
        def p(c, d=d, ops=ops):
            sp, dp = ops(c("sp")), ops(c("dp"))
            return sp if d == "src " else dp if d == "dst " else sp | dp
        return f"{d}port {op}{v}", p
    if leaf == "net":
        d = rng.choice(["src ", "dst ", ""])
        oct2 = rng.choice([0, 1, 4])
        lo = 10 * 16777216 + oct2 * 65536
        hi = lo + 65535
        def p(c, d=d, lo=lo, hi=hi):
            s = (c("sa_num") >= lo) & (c("sa_num") <= hi)
            t = (c("da_num") >= lo) & (c("da_num") <= hi)
            return s if d == "src " else t if d == "dst " else s | t
        return f"{d}net 10.{oct2}.0.0/16", p
    if leaf == "proto":
        name = rng.choice(["tcp", "udp", "icmp", "6", "17"])
        want = {"6": "TCP", "17": "UDP"}.get(name, name.upper())
        # null-safe (r4): null proto is plain False, so `not proto X`
        # keeps unknown-proto rows — two-valued filter algebra
        return f"proto {name}", lambda c, w=want: F.upper(c("pr")).eqNullSafe(w)
    if leaf == "packets":
        v = rng.choice([100, 1000, 5000])
        return f"packets > {v}", lambda c, v=v: c("ipkt") > v
    if leaf == "bytes":
        v = rng.choice([10, 50, 200])
        return f"bytes >= {v}k", lambda c, v=v: c("ibyt") >= v * 1000
    v = rng.choice([1, 10, 100])
    return f"pps < {v}", lambda c, v=v: (c("td") > 0) & (c("ipkt") / c("td") < v)


def test_random_filter_roundtrip(flows):
    import random

    rng = random.Random(99)
    for _ in range(40):
        text, pred = _rand_ast(rng)
        got = flows.filter(compile_filter(text)).count()
        want = flows.filter(pred(F.col)).count()
        assert got == want, f"{text}: {got} != {want}"


# --- extended-schema primaries (r8: groundwork for the r9 demo key) ---

EXT_SCHEMA_CASES = [
    ("tos 16", lambda c: c("stos") == 16),
    ("src tos 16", lambda c: c("stos") == 16),
    ("dst tos > 8", lambda c: c("dtos") > 8),
    ("as 64512", lambda c: (c("sas") == 64512) | (c("das") == 64512)),
    ("src as 64512", lambda c: c("sas") == 64512),
    ("dst as < 64600", lambda c: c("das") < 64600),
    ("if 5", lambda c: (c("input") == 5) | (c("output") == 5)),
    ("in if 5", lambda c: c("input") == 5),
    ("out if > 3", lambda c: c("output") > 3),
    ("fwdstat 64", lambda c: c("fwd") == 64),
    (
        "src as 64512 and out if 2 and tos 0",
        lambda c: (c("sas") == 64512) & (c("output") == 2) & (c("stos") == 0),
    ),
]


@pytest.fixture(scope="module")
def flows_ext(flows):
    """The flows fixture widened with nfdump's public CSV field names
    (stos/dtos/sas/das/input/output/fwd), derived deterministically so
    every extended predicate selects a real subset."""
    return flows.withColumns(
        {
            "stos": (F.col("sp") % 32).cast("int"),
            "dtos": (F.col("dp") % 32).cast("int"),
            "sas": (F.lit(64512) + F.col("sp") % 16).cast("int"),
            "das": (F.lit(64512) + F.col("dp") % 128).cast("int"),
            "input": (F.col("sp") % 8).cast("int"),
            "output": (F.col("dp") % 8).cast("int"),
            "fwd": (F.col("ipkt") % 3 * 64).cast("int"),
        }
    ).cache()


@pytest.mark.parametrize("text,ref", EXT_SCHEMA_CASES, ids=[c[0] for c in EXT_SCHEMA_CASES])
def test_extended_filter_matches_reference_predicate(flows_ext, text, ref):
    got = flows_ext.filter(compile_filter(text, extended=True)).count()
    want = flows_ext.filter(ref(F.col)).count()
    assert got == want, text


def test_extended_suite_has_selective_cases(flows_ext):
    total = flows_ext.count()
    nonzero = sum(
        1
        for text, _ in EXT_SCHEMA_CASES
        if 0 < flows_ext.filter(compile_filter(text, extended=True)).count() < total
    )
    assert nonzero >= 6


@pytest.mark.parametrize(
    "text,null_matches",
    [
        # a NULL field never matches a positive predicate...
        ("as 64512", 0),
        ("tos 16", 0),
        ("in if 5", 0),
        ("fwdstat 64", 0),
        # ...so its NEGATION matches every NULL row (two-valued algebra:
        # nfdump records have no NULLs, nftree.c evaluates plain C
        # comparisons — `not as 64512` must keep NULL-sas rows, ADVICE r8)
        ("not as 64512", 4),
        ("not tos 16", 4),
        ("not in if 5", 4),
        ("not fwdstat 64", 4),
        ("not (src as 64512 and tos 0)", 4),
    ],
)
def test_extended_primaries_two_valued_on_null_fields(spark, text, null_matches):
    """Extended primaries keep the module's two-valued contract on a
    widened table with NULL fields (a bad exporter day): NULL compares
    as plain False, so negation matches it — the same class the proto
    eqNullSafe fix guards (ADVICE r8 #1)."""
    rows = [(None, None, None, None, None, None, None)] * 4
    df = spark.createDataFrame(
        rows, "stos int, dtos int, sas int, das int, input int, output int, fwd int"
    )
    assert df.filter(compile_filter(text, extended=True)).count() == null_matches


@pytest.mark.parametrize(
    "text", [c[0] for c in EXT_SCHEMA_CASES], ids=[c[0] for c in EXT_SCHEMA_CASES]
)
def test_extended_primaries_rejected_on_standard_schema(text):
    """Without extended=True the primaries must fail at COMPILE time
    with a clear message, not at execution with a missing column."""
    with pytest.raises(NfFilterError, match="extended"):
        compile_filter(text)


@pytest.mark.parametrize(
    "bad",
    [
        "src if 5",        # interfaces take in/out, not src/dst
        "dst fwdstat 64",  # fwdstat takes no direction
        "in port 80",      # in/out prefix only valid before 'if'
        "as 1k",           # AS numbers are not scalable literals
        "tos",             # missing value
    ],
)
def test_ext_schema_grammar_errors(bad):
    with pytest.raises(NfFilterError):
        compile_filter(bad, extended=True)


# --- extended filter end-to-end vs a DuckDB oracle on the widened
# --- flow table DERIVED from the real events parquet. Landed r10 as
# --- the registered key `filter_nfdump_extended` (operators/relational);
# --- derivation + case list are imported from the operator module so
# --- the test and the certified key can never drift apart.

from nfdump2clickhouse_spark.operators.relational import (  # noqa: E402
    EXT_CASES as EXT_E2E_CASES,
    EXT_DERIVE_SQL as _EXT_DERIVE_SQL,
    ext_flows_from_events as _ext_flows_from_events,
)


@pytest.mark.parametrize(
    "text,sql_pred", EXT_E2E_CASES, ids=[c[0] for c in EXT_E2E_CASES]
)
def test_extended_filter_end_to_end_vs_duckdb(spark, text, sql_pred):
    """Every extended predicate, compiled onto the widened flow table
    derived from the REAL sf0.001 events parquet, must select the same
    event_id SET DuckDB selects with the equivalent SQL over the same
    derivation — the driver-gate shape the r10 `filter_nfdump_extended`
    key will certify."""
    import duckdb

    from nfdump2clickhouse_spark.duckdb_compat import pin_float_semantics

    sf = "/root/testdata/sf0.001"
    f = _ext_flows_from_events(spark, sf)
    got = {
        r.event_id
        for r in f.filter(compile_filter(text, extended=True))
        .select("event_id")
        .collect()
    }
    con = duckdb.connect()
    pin_float_semantics(con)
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    want = {
        r[0]
        for r in con.execute(
            f"SELECT event_id FROM ({_EXT_DERIVE_SQL}) WHERE {sql_pred}"
        ).fetchall()
    }
    assert got == want, f"{text}: {len(got)} engine vs {len(want)} oracle"
    assert 0 < len(got), f"{text}: case selects nothing (fixture drift?)"
