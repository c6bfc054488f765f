"""IPv4/IPv6 CIDR column functions (SURVEY §4.3.2).

ClickHouse ships IPv4StringToNum / IPv6StringToNum / isIPAddressInRange
[P]; Spark has no builtin, so we derive numeric address columns and
compile CIDR prefixes to [lo, hi] ranges. Stored as LongType columns at
ingest, the range predicates push down to parquet row-group stats — data
skipping for address filters at 100 TB, which a string-typed address can
never give. IPv6 (128-bit) splits into two ordered longs (hi, lo 64-bit
halves, offset to preserve signed ordering); a v6 CIDR compiles to a
lexicographic range over (hi, lo), and the hi-half bound still prunes
row groups on its own.

Pure Column arithmetic — no UDF, stays inside whole-stage codegen.
"""

from __future__ import annotations

import ipaddress

import pyspark.sql.functions as F
from pyspark.sql import Column


def ipv4_to_num(col: Column) -> Column:
    """Dotted-quad string → uint32-as-long (ClickHouse IPv4StringToNum).

    NULL for anything that is not a v4 dotted quad — §1.2 allows v6
    strings in the same address column, and the ANSI cast would throw on
    them (try_cast keeps the expression codegen'd and null-safe)."""
    parts = F.split(col, r"\.")
    return F.when(
        F.size(parts) == 4,
        parts.getItem(0).try_cast("bigint") * 16777216
        + parts.getItem(1).try_cast("bigint") * 65536
        + parts.getItem(2).try_cast("bigint") * 256
        + parts.getItem(3).try_cast("bigint"),
    )


def cidr_range(cidr: str) -> tuple[int, int]:
    """'10.0.0.0/20' → (lo, hi) inclusive numeric bounds."""
    addr, _, bits = cidr.partition("/")
    bits = int(bits) if bits else 32
    o = [int(x) for x in addr.split(".")]
    base = (o[0] << 24) | (o[1] << 16) | (o[2] << 8) | o[3]
    mask = ((1 << 32) - 1) ^ ((1 << (32 - bits)) - 1)
    lo = base & mask
    hi = lo | ((1 << (32 - bits)) - 1)
    return lo, hi


def ip_in_cidr(ip_num: Column, cidr: str) -> Column:
    """CIDR membership as a pushdown-friendly range predicate on ip_num
    (ClickHouse isIPAddressInRange)."""
    lo, hi = cidr_range(cidr)
    return (ip_num >= F.lit(lo)) & (ip_num <= F.lit(hi))


# --- IPv6 --------------------------------------------------------------------

_OFF = 1 << 15  # per-group offset so each 64-bit half lands in signed-long
#                 space shifted by 2^63, preserving unsigned order


def _half(parts: Column, base: int) -> Column:
    g = [F.conv(F.element_at(parts, base + k), 16, 10).cast("bigint") for k in range(1, 5)]
    return (
        (g[0] - F.lit(_OFF)) * F.lit(1 << 48)
        + g[1] * F.lit(1 << 32)
        + g[2] * F.lit(1 << 16)
        + g[3]
    )


def ipv6_to_nums(col: Column) -> tuple[Column, Column]:
    """RFC-4291 IPv6 string → (hi, lo) signed longs whose (hi, lo)
    lexicographic order equals unsigned 128-bit address order (each half
    is the unsigned value minus 2^63). Handles `::` zero-compression by
    string expansion; embedded-IPv4 forms (`::ffff:1.2.3.4`) are out of
    scope (nfdump emits pure hex forms [P]). Pure Column ops: the derived
    columns are stored at ingest and v6 CIDR predicates become range
    filters with row-group pruning on the hi half."""
    n_groups = F.size(F.filter(F.split(col, ":"), lambda x: x != ""))
    zeros = F.concat(F.repeat(F.lit(":0"), F.lit(8) - n_groups), F.lit(":"))
    norm = F.when(
        col.contains("::"), F.replace(col, F.lit("::"), zeros)
    ).otherwise(col)
    norm = F.regexp_replace(F.regexp_replace(norm, "^:", ""), ":$", "")
    parts = F.split(norm, ":")
    return _half(parts, 0), _half(parts, 4)


def cidr6_range(cidr: str) -> tuple[tuple[int, int], tuple[int, int]]:
    """'2001:db8::/32' → ((lo_hi, lo_lo), (hi_hi, hi_lo)) inclusive bounds
    in the same signed (hi, lo) encoding as ipv6_to_nums."""
    net = ipaddress.IPv6Network(cidr, strict=False)
    enc = lambda v: ((v >> 64) - (1 << 63), (v & ((1 << 64) - 1)) - (1 << 63))
    return enc(int(net.network_address)), enc(int(net.broadcast_address))


def ip6_in_cidr(hi: Column, lo: Column, cidr: str) -> Column:
    """v6 CIDR membership as a lexicographic (hi, lo) range predicate;
    the hi-half bounds alone are a pushdown-able parquet range filter."""
    (a_hi, a_lo), (b_hi, b_lo) = cidr6_range(cidr)
    ge = (hi > F.lit(a_hi)) | ((hi == F.lit(a_hi)) & (lo >= F.lit(a_lo)))
    le = (hi < F.lit(b_hi)) | ((hi == F.lit(b_hi)) & (lo <= F.lit(b_lo)))
    return ge & le
