"""Property-based cross-engine checks (SURVEY §5.4): randomized filter /
aggregation / grouping queries must agree with DuckDB on the same parquet.

These catch the class of bug the fixed oracle pairs can't: expression
semantics that only diverge on operator/value combinations nobody wrote
down (null comparisons, boundary constants, negated ranges). Kept small
(sf0.001, bounded examples, no shrinking deadline pressure) so the suite
stays fast; crank `max_examples` for a nightly run.
"""

from __future__ import annotations

import duckdb

from nfdump2clickhouse_spark.duckdb_compat import pin_float_semantics
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nfdump2clickhouse_spark.catalog import table

from tests.conftest import SMALL_SF_DIR as SF

NUM_COLS = {
    "l_quantity": (1.0, 50.0),
    "l_extendedprice": (900.0, 105000.0),
    "l_discount": (0.0, 0.1),
    "l_tax": (0.0, 0.08),
}
STR_COLS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["O", "F"]}
OPS = ["<", "<=", ">", ">=", "=", "<>"]
GROUP_COLS = ["l_returnflag", "l_linestatus", "l_suppkey"]


@pytest.fixture(scope="module")
def ddb_small():
    con = duckdb.connect()
    pin_float_semantics(con)
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


# thresholds rounded to 6 decimals: a 17-digit literal is typed DECIMAL(18,17)
# by DuckDB, whose DECIMAL↔DOUBLE comparison rounds differently from Spark's
# double promotion — a literal-typing divergence, not an engine bug (found by
# an earlier run of this very test)
num_pred = st.builds(
    lambda c, op, frac: (
        c,
        op,
        round(NUM_COLS[c][0] + frac * (NUM_COLS[c][1] - NUM_COLS[c][0]), 6),
    ),
    st.sampled_from(sorted(NUM_COLS)),
    st.sampled_from(OPS),
    st.floats(0.0, 1.0, allow_nan=False),
)
str_pred = st.builds(
    lambda c, i, op: (c, op, None, i),
    st.sampled_from(sorted(STR_COLS)),
    st.integers(0, 2),
    st.sampled_from(["=", "<>"]),
)


def _sql_pred(p) -> str:
    if len(p) == 3:
        c, op, v = p
        return f"{c} {op} {v!r}"
    c, op, _, i = p
    return f"{c} {op} '{STR_COLS[c][i % len(STR_COLS[c])]}'"


common = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@common
@given(preds=st.lists(st.one_of(num_pred, str_pred), min_size=1, max_size=3))
def test_random_conjunctive_filters_agree(spark, ddb_small, preds):
    where = " AND ".join(_sql_pred(p) for p in preds)
    expected = ddb_small.execute(f"SELECT COUNT(*) FROM lineitem WHERE {where}").fetchone()[0]
    got = table(spark, SF, "lineitem").filter(F.expr(where)).count()
    assert got == expected, where


@common
@given(
    gcol=st.sampled_from(GROUP_COLS),
    acol=st.sampled_from(sorted(NUM_COLS)),
    pred=num_pred,
)
def test_random_grouped_aggregates_agree(spark, ddb_small, gcol, acol, pred):
    where = _sql_pred(pred)
    q = (
        f"SELECT {gcol} AS g, COUNT(*) AS n, ROUND(SUM({acol}), 2) AS s "
        f"FROM lineitem WHERE {where} GROUP BY {gcol}"
    )
    expected = {
        r[0]: (r[1], r[2]) for r in ddb_small.execute(q).fetchall()
    }
    rows = (
        table(spark, SF, "lineitem")
        .filter(F.expr(where))
        .groupBy(F.col(gcol).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(acol), 2).alias("s"))
        .collect()
    )
    got = {r.g: (r.n, float(r.s)) for r in rows}
    assert got.keys() == expected.keys(), q
    for k in expected:
        en, es = expected[k]
        gn, gs = got[k]
        assert gn == en and abs(gs - float(es)) < 1e-6, (q, k)


@common
@given(
    pred=num_pred,
    gcol=st.sampled_from(["o_orderpriority", "o_orderstatus"]),
)
def test_random_filtered_join_aggregates_agree(spark, ddb_small, pred, gcol):
    """lineitem ⋈ orders under a random lineitem predicate, grouped on an
    orders column — exercises join + filter + agg interplay that the
    fixed-key suite covers only at specific constants."""
    where = _sql_pred(pred)
    q = (
        f"SELECT {gcol} AS g, COUNT(*) AS n FROM lineitem l "
        f"JOIN orders o ON l.l_orderkey = o.o_orderkey "
        f"WHERE {where} GROUP BY {gcol}"
    )
    expected = dict(ddb_small.execute(q).fetchall())
    li = table(spark, SF, "lineitem").filter(F.expr(where))
    o = table(spark, SF, "orders")
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col(gcol).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r.g: r.n for r in rows}
    assert got == expected, q


WIN_FUNCS = ["row_number()", "rank()", "dense_rank()", "count(*)"]


@common
@given(
    fn=st.sampled_from(WIN_FUNCS),
    gcol=st.sampled_from(["l_returnflag", "l_linestatus"]),
    ocol=st.sampled_from(["l_extendedprice", "l_quantity"]),
    desc=st.booleans(),
)
def test_random_window_ranks_agree(spark, ddb_small, fn, gcol, ocol, desc):
    """Randomized ranking-window queries vs DuckDB: partition key, order
    column, direction, and function drawn at random. The window ORDER BY
    carries enough tiebreakers for a total order within partitions
    (SURVEY §5.3.3). NOTE: (l_orderkey, l_linenumber) is NOT unique in
    the fixtures (the generator reuses keys — found by this very test),
    so results are compared as canonically sorted full tuples, not by
    positional alignment on a non-unique output key."""
    d = "DESC" if desc else "ASC"
    over = (
        f"OVER (PARTITION BY {gcol} ORDER BY {ocol} {d}, "
        f"l_orderkey, l_linenumber, l_partkey, l_suppkey)"
    )
    q = (
        f"SELECT l_orderkey, l_linenumber, l_partkey, {fn} {over} AS w "
        f"FROM lineitem"
    )
    expected = sorted(tuple(r) for r in ddb_small.execute(q).fetchall())
    got = sorted(
        tuple(r)
        for r in spark.sql(
            q.replace("lineitem", "parquet.`" + SF + "/lineitem.parquet`")
        ).collect()
    )
    assert got == expected, q


@common
@given(
    lo=st.integers(-3, 0),
    hi=st.integers(0, 3),
    gcol=st.sampled_from(["l_returnflag", "l_linestatus"]),
)
def test_random_window_frames_agree(spark, ddb_small, lo, hi, gcol):
    """Randomized ROWS BETWEEN frames: SUM over [lo, hi] rows around the
    current row must agree exactly (integer sums of l_linenumber — no
    float ordering noise)."""
    frame = (
        f"ROWS BETWEEN {-lo} PRECEDING AND {hi} FOLLOWING"
        if lo < 0
        else f"ROWS BETWEEN CURRENT ROW AND {hi} FOLLOWING"
    )
    # (l_orderkey, l_linenumber) is not unique in the fixtures; adding
    # l_partkey/l_suppkey makes the frame's neighbor set deterministic
    over = (
        f"OVER (PARTITION BY {gcol} ORDER BY l_orderkey, l_linenumber, "
        f"l_partkey, l_suppkey {frame})"
    )
    q = (
        f"SELECT l_orderkey, l_linenumber, l_partkey, SUM(l_linenumber) {over} AS s "
        f"FROM lineitem"
    )
    expected = sorted(tuple(r) for r in ddb_small.execute(q).fetchall())
    got = sorted(
        tuple(r)
        for r in spark.sql(
            q.replace("lineitem", "parquet.`" + SF + "/lineitem.parquet`")
        ).collect()
    )
    assert got == expected, q


@common
@given(
    unit=st.sampled_from(["hour", "day", "week", "month"]),
)
def test_random_date_trunc_buckets_agree(spark, ddb_small, unit):
    """date_trunc bucketing parity across units (week start, month
    boundaries are classic cross-engine divergence points). The explicit
    TIMESTAMP cast normalizes return types: DuckDB's date_trunc on a
    coarse unit yields DATE, Spark always yields TIMESTAMP."""
    q = (
        f"SELECT CAST(date_trunc('{unit}', o_orderdate) AS TIMESTAMP) AS b, "
        f"COUNT(*) AS n FROM orders GROUP BY b ORDER BY b"
    )
    expected = ddb_small.execute(q).fetchall()
    got = [
        tuple(r)
        for r in spark.sql(
            q.replace("orders", "parquet.`" + SF + "/orders.parquet`")
        ).collect()
    ]
    assert got == [tuple(r) for r in expected], q


# --- text-core primitives vs pure-Python reference (round 2) -----------------

_word_text = st.text(
    alphabet=st.sampled_from("ab c d  efg "), min_size=0, max_size=60
)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(txt=_word_text, n=st.integers(min_value=2, max_value=4))
def test_words_and_shingles_match_python(spark, txt, n):
    """The text core (`words`, `shingles`) must agree with the obvious
    Python reference on arbitrary spacing — every dedup/quality/vocab
    key builds on these two, so a boundary bug here (empty tokens,
    short docs, n>len) corrupts the whole family silently."""
    from nfdump2clickhouse_spark.functions.text import shingles, words

    row = (
        spark.createDataFrame([(txt,)], "text string")
        .select(
            words(F.col("text")).alias("ws"),
            shingles(words(F.col("text")), n).alias("sh"),
        )
        .collect()[0]
    )
    ref_ws = [w for w in txt.split(" ") if w != ""]
    ref_sh = [
        " ".join(ref_ws[i : i + n]) for i in range(max(len(ref_ws) - n + 1, 0))
    ]
    assert row.ws == ref_ws
    assert row.sh == ref_sh


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.integers(min_value=-10**9, max_value=10**9).map(abs),
        min_size=1,
        max_size=8,
    ),
)
def test_integer_halfup_division_matches_python(spark, vals):
    """(2s+n) DIV (2n) — the cross-engine exact running-mean formula the
    PIT join and RFM keys rely on — must equal Python's round-half-up
    for arbitrary sums/counts."""
    s, n = sum(vals), len(vals)
    # CAST the literal: in the real keys s is already a BIGINT SUM; a raw
    # int literal here parses as INT and 2*s overflows under ANSI mode
    got = spark.sql(
        f"SELECT CAST((2*CAST({s} AS BIGINT)+{n}) DIV (2*{n}) AS BIGINT) AS r"
    ).collect()[0].r
    import math
    assert got == math.floor(s / n + 0.5)


# --- NetFlow v9 decoder fuzz (round 4) ---------------------------------------
# The fixed generator pins known-good streams; these properties pack
# RANDOM templates and records with an independent inline encoder and
# require the decoder to reproduce the RFC 3954 semantics exactly, stay
# total on truncation, and stop cleanly on trailing garbage.

_V4_ADDRS = [(8, 4), (12, 4)]
_V6_ADDRS = [(27, 16), (28, 16)]
_SCALARS = [(7, 2), (11, 2), (4, 1), (6, 1), (2, 4), (1, 4)]
_TIMES = [(22, 4), (21, 4)]
_SKIPS = [(10, 2), (14, 2), (16, 4), (48, 1), (61, 1)]


@st.composite
def v9_packet(draw):
    addr_mode = draw(st.sampled_from(["v4", "v6", "none"]))
    fields = {"v4": list(_V4_ADDRS), "v6": list(_V6_ADDRS), "none": []}[
        addr_mode
    ]
    fields += draw(
        st.lists(st.sampled_from(_SCALARS + _TIMES + _SKIPS), min_size=1,
                 max_size=8)
    )
    fields = draw(st.permutations(fields))
    n_rec = draw(st.integers(1, 5))
    recs = [
        [draw(st.integers(0, (1 << (8 * l)) - 1)) for _, l in fields]
        for _ in range(n_rec)
    ]
    sys_up = draw(st.integers(0, 2**32 - 1))
    unix_s = draw(st.integers(1_000_000_000, 2_000_000_000))
    source = draw(st.integers(0, 1000))
    tid = draw(st.integers(256, 5000))
    return list(fields), recs, sys_up, unix_s, source, tid


def _pack_v9(fields, recs, sys_up, unix_s, source, tid):
    """Independent wire encoder (NOT the module's generator)."""
    import struct

    tmpl_body = struct.pack(">HH", tid, len(fields)) + b"".join(
        struct.pack(">HH", t, l) for t, l in fields
    )
    tmpl = struct.pack(">HH", 0, 4 + len(tmpl_body)) + tmpl_body
    body = b"".join(
        b"".join(int(v).to_bytes(l, "big") for (t, l), v in zip(fields, rec))
        for rec in recs
    )
    pad = (-len(body)) % 4
    data = struct.pack(">HH", tid, 4 + len(body) + pad) + body + b"\x00" * pad
    hdr = struct.pack(
        ">HHIIII", 9, 1 + len(recs), sys_up, unix_s, 0, source
    )
    return hdr + tmpl + data


def _expected_v9(fields, recs, sys_up, unix_s, source):
    """Reference decode per RFC semantics + the module's contract
    (duplicate field types: last occurrence wins)."""
    import ipaddress

    _PROTO = {1: "ICMP", 2: "IGMP", 6: "TCP", 17: "UDP", 41: "IPv6",
              47: "GRE", 50: "ESP", 58: "ICMP6", 89: "OSPF", 132: "SCTP"}
    flag_bits = [("U", 0x20), ("A", 0x10), ("P", 0x08), ("R", 0x04),
                 ("S", 0x02), ("F", 0x01)]
    out = []
    for rec in recs:
        slot = {}
        for (t, l), v in zip(fields, rec):
            slot[t] = v
        export_ms = unix_s * 1000
        ts = export_ms - sys_up + slot[22] if 22 in slot else export_ms
        te = export_ms - sys_up + slot[21] if 21 in slot else ts
        if 27 in slot or 28 in slot:
            sa = str(ipaddress.IPv6Address(slot.get(27, 0)))
            da = str(ipaddress.IPv6Address(slot.get(28, 0)))
        else:
            v4 = lambda x: ".".join(
                str((x >> s) & 255) for s in (24, 16, 8, 0))
            sa, da = v4(slot.get(8, 0)), v4(slot.get(12, 0))
        pr = _PROTO.get(slot[4], str(slot[4])) if 4 in slot else None
        flg = (
            "".join(c if slot[6] & b else "." for c, b in flag_bits)
            if 6 in slot
            else None
        )
        out.append(
            (ts, te, (te - ts) / 1000.0, sa, da, slot.get(7, 0),
             slot.get(11, 0), pr, flg, slot.get(2, 0), slot.get(1, 0),
             f"sid-{source}")
        )
    return out


@settings(max_examples=120, deadline=None)
@given(v9_packet())
def test_v9_decoder_fuzz_roundtrip(pkt):
    from nfdump2clickhouse_spark.sources.netflow_v9 import decode_flow_stream

    fields, recs, sys_up, unix_s, source, tid = pkt
    raw = _pack_v9(fields, recs, sys_up, unix_s, source, tid)
    assert decode_flow_stream(raw) == _expected_v9(
        fields, recs, sys_up, unix_s, source
    )


@settings(max_examples=60, deadline=None)
@given(v9_packet(), st.integers(1, 40), st.binary(min_size=0, max_size=64))
def test_v9_decoder_total_on_truncation_and_garbage(pkt, cut, junk):
    """Truncation never raises and only ever drops whole records from
    the tail; appended non-v9 garbage after an intact packet changes
    nothing (the decoder stops at the first unknown version)."""
    from nfdump2clickhouse_spark.sources.netflow_v9 import decode_flow_stream

    fields, recs, sys_up, unix_s, source, tid = pkt
    raw = _pack_v9(fields, recs, sys_up, unix_s, source, tid)
    full = _expected_v9(fields, recs, sys_up, unix_s, source)
    got = decode_flow_stream(raw[: max(0, len(raw) - cut)])
    assert got == full[: len(got)]  # prefix property, never garbage rows
    if junk[:2] not in (b"\x00\x09", b"\x00\x0a"):
        assert decode_flow_stream(raw + junk) == full


# --- nffilter compiler fuzz (round 4) ----------------------------------------
# Random filter ASTs rendered to text, compiled to Columns, evaluated on
# a fixed flows frame — and cross-checked against an INDEPENDENT Python
# evaluator implementing the documented semantics (src|dst default
# direction, CIDR ranges, null protocol never matches, flags subset,
# rate filters undefined at td=0/ipkt=0).

_FLOW_ROWS = [
    # (sa, da, sp, dp, pr, flg, ipkt, ibyt, td)
    ("10.0.0.1", "192.168.1.5", 443, 53222, "TCP", ".A..S.", 10, 4000, 2.0),
    ("10.0.7.9", "10.0.0.1", 80, 443, "TCP", ".AP.SF", 1, 40, 0.0),
    ("172.16.3.4", "8.8.8.8", 53222, 53, "UDP", "......", 2, 120, 0.5),
    ("192.168.1.5", "172.16.3.4", 53, 8080, "UDP", "......", 90, 90000, 10.0),
    ("8.8.8.8", "10.0.7.9", 123, 123, None, "......", 5, 380, 1.0),
    ("10.0.0.255", "9.9.9.9", 22, 22, "ICMP", "...R..", 0, 0, 0.0),
]


def _ip2num(a):
    p = a.split(".")
    return (int(p[0]) << 24) | (int(p[1]) << 16) | (int(p[2]) << 8) | int(p[3])


@st.composite
def nf_filter(draw, depth=0):
    if depth < 3 and draw(st.booleans()):
        op = draw(st.sampled_from(["and", "or", "not"]))
        if op == "not":
            inner, ev = draw(nf_filter(depth=depth + 1))
            return f"not ({inner})", (lambda r, ev=ev: not ev(r))
        l, evl = draw(nf_filter(depth=depth + 1))
        r_, evr = draw(nf_filter(depth=depth + 1))
        if op == "and":
            return f"({l}) and ({r_})", (
                lambda r, a=evl, b=evr: a(r) and b(r)
            )
        return f"({l}) or ({r_})", (lambda r, a=evl, b=evr: a(r) or b(r))
    kind = draw(
        st.sampled_from(
            ["host", "net", "port", "proto", "packets", "bytes", "flags",
             "pps", "bpp", "any"]
        )
    )
    dirn = draw(st.sampled_from(["", "src ", "dst "]))

    def pick(r, src_v, dst_v, d=dirn):
        if d == "src ":
            return [src_v(r)]
        if d == "dst ":
            return [dst_v(r)]
        return [src_v(r), dst_v(r)]

    if kind == "any":
        return "any", (lambda r: True)
    if kind == "host":
        a = draw(st.sampled_from([row[0] for row in _FLOW_ROWS] + ["1.2.3.4"]))
        return f"{dirn}host {a}", (
            lambda r, a=a: any(v == a for v in pick(r, lambda x: x[0], lambda x: x[1]))
        )
    if kind == "net":
        base = draw(st.sampled_from(["10.0.0.0", "192.168.0.0", "172.16.0.0", "8.0.0.0"]))
        bits = draw(st.sampled_from([8, 12, 16, 24]))
        lo = _ip2num(base) & ((0xFFFFFFFF << (32 - bits)) & 0xFFFFFFFF)
        hi = lo + (1 << (32 - bits)) - 1
        return f"{dirn}net {base}/{bits}", (
            lambda r, lo=lo, hi=hi: any(
                lo <= _ip2num(v) <= hi
                for v in pick(r, lambda x: x[0], lambda x: x[1])
            )
        )
    if kind == "port":
        cmp_op = draw(st.sampled_from(["", "< ", "<= ", "> ", ">= ", "= "]))
        v = draw(st.sampled_from([22, 53, 80, 123, 443, 8080, 53222]))
        import operator as _op

        fn = {"": _op.eq, "= ": _op.eq, "< ": _op.lt, "<= ": _op.le,
              "> ": _op.gt, ">= ": _op.ge}[cmp_op]
        return f"{dirn}port {cmp_op}{v}", (
            lambda r, fn=fn, v=v: any(
                fn(x, v) for x in pick(r, lambda x: x[2], lambda x: x[3])
            )
        )
    if kind == "proto":
        p = draw(st.sampled_from(["tcp", "udp", "icmp", "6", "17"]))
        name = {"6": "TCP", "17": "UDP"}.get(p, p.upper())
        return f"proto {p}", (
            lambda r, name=name: r[4] is not None and r[4].upper() == name
        )
    if kind == "packets":
        v = draw(st.sampled_from([1, 2, 5, 10, 90]))
        op = draw(st.sampled_from(["> ", "< ", ">= ", ""]))
        import operator as _op

        fn = {"": _op.eq, "> ": _op.gt, "< ": _op.lt, ">= ": _op.ge}[op]
        return f"packets {op}{v}", (lambda r, fn=fn, v=v: fn(r[6], v))
    if kind == "bytes":
        v = draw(st.sampled_from([40, 120, 4000, 90000]))
        op = draw(st.sampled_from(["> ", "< ", ""]))
        import operator as _op

        fn = {"": _op.eq, "> ": _op.gt, "< ": _op.lt}[op]
        return f"bytes {op}{v}", (lambda r, fn=fn, v=v: fn(r[7], v))
    if kind == "flags":
        letters = draw(st.sampled_from(["A", "S", "AS", "R", "F", "P"]))
        return f"flags {letters}", (
            lambda r, L=letters: all(c in r[5] for c in L)
        )
    if kind == "pps":
        v = draw(st.sampled_from([1, 4, 5, 9]))
        return f"pps > {v}", (lambda r, v=v: r[8] > 0 and r[6] / r[8] > v)
    # bpp
    v = draw(st.sampled_from([40, 60, 400, 1000]))
    return f"bpp > {v}", (lambda r, v=v: r[6] > 0 and r[7] / r[6] > v)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(nf_filter())
def test_nffilter_fuzz_matches_reference_evaluator(spark, fx):
    """compile_filter on a random expression must select exactly the
    rows the independent Python evaluator selects."""
    import pyspark.sql.functions as F

    from nfdump2clickhouse_spark.functions.ip import ipv4_to_num
    from nfdump2clickhouse_spark.functions.nffilter import compile_filter

    text, ev = fx
    global _NF_DF
    try:
        _NF_DF
    except NameError:
        _NF_DF = spark.createDataFrame(
            _FLOW_ROWS,
            "sa string, da string, sp int, dp int, pr string, flg string,"
            " ipkt long, ibyt long, td double",
        ).withColumns(
            {"sa_num": ipv4_to_num(F.col("sa")),
             "da_num": ipv4_to_num(F.col("da"))}
        ).cache()
        _NF_DF.count()
    got = {r.sa for r in _NF_DF.filter(compile_filter(text)).collect()}
    exp = {row[0] for row in _FLOW_ROWS if ev(row)}
    assert got == exp, text


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(0, 32),
       st.integers(0, 2**32 - 1))
def test_cidr_range_matches_stdlib(addr, bits, probe):
    """functions/ip.cidr_range vs the stdlib ipaddress network math:
    same [lo, hi] bounds and same membership verdict for a random probe
    address, for every prefix length including /0 and /32."""
    import ipaddress

    from nfdump2clickhouse_spark.functions.ip import cidr_range

    a = ".".join(str((addr >> s) & 255) for s in (24, 16, 8, 0))
    lo, hi = cidr_range(f"{a}/{bits}")
    net = ipaddress.ip_network(f"{a}/{bits}", strict=False)
    assert lo == int(net.network_address)
    assert hi == int(net.broadcast_address)
    assert (lo <= probe <= hi) == (ipaddress.ip_address(probe) in net)


@settings(max_examples=80, deadline=None)
@given(st.integers(1, 8), st.integers(0, 400), st.binary(max_size=32))
def test_v5_decoder_total_on_truncation(n_rec, cut, junk):
    """decode_v5 is total on cut captures (drops whole records from the
    tail, never crashes, never emits a partial record) and ignores a
    record-count header that overstates the payload."""
    import struct as st

    from nfdump2clickhouse_spark.operators.flows import decode_v5

    recs = [
        st.pack(
            ">IIIHHIIIIHHBBBBHHBBH",
            (10 << 24) | i, (192 << 24) | i, 0, 1, 2,
            i + 1, (i + 1) * 100, 0, 500, 1024 + i, 443,
            0, 0x18, 6, 0, 0, 0, 24, 24, 0,
        )
        for i in range(n_rec)
    ]
    hdr = st.pack(">HHIIIIBBH", 5, n_rec, 0, 1_700_000_000, 0, 0, 0, 0, 0)
    raw = hdr + b"".join(recs)
    full = decode_v5(raw)
    assert len(full) == n_rec and full[0][0] == "10.0.0.0"
    got = decode_v5(raw[: max(0, len(raw) - cut)])
    assert got == full[: len(got)]
    # overstated count: header claims n_rec+3 records
    over = st.pack(">HHIIIIBBH", 5, n_rec + 3, 0, 1_700_000_000, 0, 0, 0, 0, 0)
    assert decode_v5(over + b"".join(recs) + junk[: len(junk) - len(junk) % 1]) == (
        decode_v5(over + b"".join(recs) + junk)
    )
    assert len(decode_v5(over + b"".join(recs))) == n_rec


@st.composite
def ipfix_packet(draw):
    addr_mode = draw(st.sampled_from(["v4", "v6", "none"]))
    fields = {"v4": list(_V4_ADDRS), "v6": list(_V6_ADDRS), "none": []}[
        addr_mode
    ]
    fields += draw(
        st.lists(
            st.sampled_from(_SCALARS + [(152, 8), (153, 8)] + _SKIPS),
            min_size=1, max_size=6,
        )
    )
    # enterprise-numbered padding field exercises the RFC 7011 PEN skip
    # (masked type drawn OUTSIDE the decodable slot map so the expected
    # model need not track enterprise aliasing of contract fields)
    if draw(st.booleans()):
        fields.append((0x8000 | draw(st.integers(400, 700)), draw(st.integers(1, 6))))
    fields = draw(st.permutations(fields))
    n_rec = draw(st.integers(1, 4))
    recs = [
        [draw(st.integers(0, (1 << (8 * (l))) - 1)) for _, l in fields]
        for _ in range(n_rec)
    ]
    export_s = draw(st.integers(1_000_000_000, 2_000_000_000))
    domain = draw(st.integers(0, 1000))
    tid = draw(st.integers(256, 5000))
    return list(fields), recs, export_s, domain, tid


def _pack_ipfix(fields, recs, export_s, domain, tid):
    import struct

    tmpl_body = struct.pack(">HH", tid, len(fields))
    for t, l in fields:
        tmpl_body += struct.pack(">HH", t, l)
        if t & 0x8000:
            tmpl_body += struct.pack(">I", 9999)  # PEN
    tmpl = struct.pack(">HH", 2, 4 + len(tmpl_body)) + tmpl_body
    body = b"".join(
        b"".join(int(v).to_bytes(l, "big") for (t, l), v in zip(fields, rec))
        for rec in recs
    )
    pad = (-len(body)) % 4
    data = struct.pack(">HH", tid, 4 + len(body) + pad) + body + b"\x00" * pad
    msg_len = 16 + len(tmpl) + len(data)
    return struct.pack(">HHIII", 10, msg_len, export_s, 0, domain) + tmpl + data


@settings(max_examples=100, deadline=None)
@given(ipfix_packet())
def test_ipfix_decoder_fuzz_roundtrip(pkt):
    """IPFIX branch: enterprise-bit PEN skip, absolute ms stamps, and
    the padding rule (RFC 7011 requires padding shorter than any
    record — assume templates with records > 3 bytes, which every
    generated one is unless all fields are 1-byte skips)."""
    from hypothesis import assume

    from nfdump2clickhouse_spark.sources.netflow_v9 import decode_flow_stream

    fields, recs, export_s, domain, tid = pkt
    rec_len = sum(l for _, l in fields)
    assume(rec_len > 3)  # RFC 7011 padding-shorter-than-record premise
    raw = _pack_ipfix(fields, recs, export_s, domain, tid)
    # expected: same slot semantics as v9 but absolute stamps; the
    # enterprise field's masked type may ALIAS a decodable slot — mirror
    # the decoder's documented last-wins on the MASKED type
    masked = [(t & 0x7FFF, l) for t, l in fields]
    out = _expected_v9(masked, recs, 0, 0, domain)
    exp = []
    for row, rec in zip(out, recs):
        slot = {t & 0x7FFF: v for (t, l), v in zip(fields, rec)}
        ts = slot.get(152, export_s * 1000)
        te = slot.get(153, ts)
        exp.append((ts, te, (te - ts) / 1000.0) + row[3:])
    assert decode_flow_stream(raw) == exp
