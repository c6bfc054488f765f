"""Template-based NetFlow v9 / IPFIX decode (RFC 3954 / RFC 7011).

The reference's nfdump world is mostly v9/IPFIX: records carry no fixed
layout — each exporter first sends TEMPLATE records (field-type/length
lists), then data FlowSets that only a cached template can interpret.
This module provides:

- ``write_netflow_v9`` / ``write_ipfix``: deterministic export streams
  (three templates with DIFFERENT field orders, one of them IPv6; later
  packets rely on templates cached from earlier packets — the property
  that makes the decode stateful);
- ``decode_flow_stream``: a pure-Python streaming decoder keeping a
  per-(source, template-id) cache while walking one capture file. It is
  the shared decode body for both the ``binaryFile``+``mapInArrow``
  operator and the Python DataSource partition reader
  (``flows_netflow_v9_decode``) — one rotation file per partition, the
  exact sharding of the real nfcapd directory layout.

Decoded records carry the FULL 13-column flows contract of SURVEY §1.2
(minus ``flowsrc``, which the ingest pipeline appends per watched dir):
``ts``/``te`` epoch-millisecond flow start/end, ``td`` duration seconds,
``sa``/``da`` (IPv4 dotted quad or canonical IPv6), ``sp``/``dp``,
``pr`` protocol name (nullable), ``flg`` nfdump-style TCP-flags string,
``ipkt``/``ibyt``, and ``ra`` the exporter identity.

Wire formats follow the published specs only (Cisco v9 export format /
RFC 3954 field types; IPFIX per RFC 7011 with enterprise-bit skip).
Field types decoded: 1 IN_BYTES, 2 IN_PKTS, 4 PROTOCOL, 6 TCP_FLAGS,
7 L4_SRC_PORT, 8 IPV4_SRC_ADDR, 11 L4_DST_PORT, 12 IPV4_DST_ADDR,
21 LAST_SWITCHED / 22 FIRST_SWITCHED (sysUptime-relative ms, made
absolute via the v9 header's unixSecs/sysUptime — the published RFC
3954 §5.1 semantics), 27/28 IPV6_SRC/DST_ADDR, and the IPFIX absolute
stamps 150/151 flowStart/EndSeconds and 152/153 flowStart/End-
Milliseconds. Every other type is skipped BY TEMPLATE LENGTH — the
template-driven skip is the whole point of the format.

Timestamps stay integer epoch-milliseconds end-to-end in the decoder
(exactness under test); the Spark-side reader casts to TimestampType.
``ra``: nfcapd learns the exporter address from the UDP peer, which a
file replay does not carry in-band — callers pass ``exporter`` (from
config / capture layout, like ``flowsrc``); the fallback renders the
only in-band exporter identity, the v9 source id / IPFIX observation
domain, as ``sid-<n>``.
"""

from __future__ import annotations

import ipaddress
import os
import struct

_V9_HEADER = ">HHIIII"  # version, count, sysUptime, unixSecs, seq, sourceId
_IPFIX_HEADER = ">HHIII"  # version, length, exportTime, seq, obsDomainId

# canonical output slots per decoded flow (SURVEY §1.2 contract minus
# flowsrc; ts/te are epoch MILLISECOND ints here, cast at the DataFrame
# boundary)
FLOW_COLUMNS = [
    "ts", "te", "td", "sa", "da", "sp", "dp", "pr", "flg", "ipkt", "ibyt", "ra",
]

# RFC 3954 §8 / IPFIX IE field types → raw slot (formatting happens in
# _finalize where the packet-header context lives)
_FIELD_SLOT = {
    8: "sa",        # IPV4_SRC_ADDR
    12: "da",       # IPV4_DST_ADDR
    27: "sa6",      # IPV6_SRC_ADDR (16 bytes)
    28: "da6",      # IPV6_DST_ADDR
    7: "sp",
    11: "dp",
    4: "_pr",       # PROTOCOL number → name
    6: "_flg",      # TCP_FLAGS byte → "UAPRSF" string
    2: "ipkt",
    1: "ibyt",
    22: "_first",   # FIRST_SWITCHED (sysUptime-relative ms, v9)
    21: "_last",    # LAST_SWITCHED
    150: "_start_s",   # IPFIX flowStartSeconds (absolute)
    151: "_end_s",     # IPFIX flowEndSeconds
    152: "_start_ms",  # IPFIX flowStartMilliseconds
    153: "_end_ms",    # IPFIX flowEndMilliseconds
}

# IANA protocol numbers → nfdump-style names (unknowns keep the number
# as a string; absent field → NULL, the §1.2 nullable-pr contract)
_PROTO_NAMES = {
    1: "ICMP", 2: "IGMP", 6: "TCP", 17: "UDP", 41: "IPv6",
    47: "GRE", 50: "ESP", 58: "ICMP6", 89: "OSPF", 132: "SCTP",
}

# nfdump flag rendering: URG ACK PSH RST SYN FIN ("UAPRSF", '.' unset)
_FLAG_BITS = (("U", 0x20), ("A", 0x10), ("P", 0x08), ("R", 0x04),
              ("S", 0x02), ("F", 0x01))


def _ip(v: int) -> str:
    return f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"


def _ip6(v: int) -> str:
    return str(ipaddress.IPv6Address(v))


def _flags(v: int) -> str:
    return "".join(c if v & bit else "." for c, bit in _FLAG_BITS)


def _uint(buf: bytes) -> int:
    return int.from_bytes(buf, "big")


def _parse_templates(payload: bytes, ipfix: bool) -> list[tuple[int, list]]:
    """Template (flow)set payload → [(template_id, [(type, len), ...])]."""
    out = []
    off = 0
    while off + 4 <= len(payload):
        tid, n_fields = struct.unpack_from(">HH", payload, off)
        off += 4
        if tid == 0 or n_fields == 0:  # padding reached
            break
        fields = []
        complete = True
        for _ in range(n_fields):
            if off + 4 > len(payload):  # truncated template: drop it —
                complete = False        # the decoder stays total on
                break                   # corrupt/cut captures (fuzz pin)
            ftype, flen = struct.unpack_from(">HH", payload, off)
            off += 4
            if ipfix and ftype & 0x8000:  # enterprise bit: skip PEN
                if off + 4 > len(payload):
                    complete = False
                    break
                off += 4
                ftype &= 0x7FFF
            fields.append((ftype, flen))
        if not complete:
            break
        out.append((tid, fields))
    return out


def _parse_data(
    payload: bytes, fields: list, max_recs: int | None = None
) -> list[dict]:
    """``max_recs`` is the packet header's remaining record budget (v9):
    flowsets pad to a 32-bit boundary, so a template whose record is
    ≤ 3 bytes makes "tail is padding" ambiguous — the header count is
    the RFC 3954 disambiguator (found by the hypothesis fuzzer: a
    2-byte record parsed its own 2 padding bytes as a phantom record).
    IPFIX needs no budget — RFC 7011 §3.3.1 requires padding shorter
    than any record."""
    rec_len = sum(flen for _, flen in fields)
    if rec_len <= 0:  # malformed template: zero-length record would
        return []     # never advance `off` (ADVICE r3: OOM loop guard)
    out = []
    off = 0
    while off + rec_len <= len(payload) and (
        max_recs is None or len(out) < max_recs
    ):  # tail < rec_len is padding
        rec: dict = {}
        for ftype, flen in fields:
            slot = _FIELD_SLOT.get(ftype)
            if slot is not None:
                rec[slot] = _uint(payload[off : off + flen])
            off += flen
        out.append(rec)
    return out


def _finalize(
    rec: dict, export_ms: int, uptime_ms: int, ra: str
) -> tuple:
    """Raw slot dict + packet-header context → contract tuple.

    v9 FIRST/LAST_SWITCHED are milliseconds of exporter sysUptime; the
    absolute wall time is ``unixSecs*1000 - sysUptime + value`` (RFC
    3954 §5.1: the header pairs the uptime clock with wall time at
    export). IPFIX carries absolute stamps directly. Records without
    time fields fall back to the export time with zero duration (what
    a collector can know)."""
    if "_first" in rec:
        ts = export_ms - uptime_ms + rec["_first"]
    elif "_start_ms" in rec:
        ts = rec["_start_ms"]
    elif "_start_s" in rec:
        ts = rec["_start_s"] * 1000
    else:
        ts = export_ms
    if "_last" in rec:
        te = export_ms - uptime_ms + rec["_last"]
    elif "_end_ms" in rec:
        te = rec["_end_ms"]
    elif "_end_s" in rec:
        te = rec["_end_s"] * 1000
    else:
        te = ts
    if "sa6" in rec:
        sa, da = _ip6(rec.get("sa6", 0)), _ip6(rec.get("da6", 0))
    else:
        sa, da = _ip(rec.get("sa", 0)), _ip(rec.get("da", 0))
    pr = _PROTO_NAMES.get(rec["_pr"], str(rec["_pr"])) if "_pr" in rec else None
    flg = _flags(rec["_flg"]) if "_flg" in rec else None
    return (
        ts,
        te,
        (te - ts) / 1000.0,
        sa,
        da,
        rec.get("sp", 0),
        rec.get("dp", 0),
        pr,
        flg,
        rec.get("ipkt", 0),
        rec.get("ibyt", 0),
        ra,
    )


def _parse_options_templates(payload: bytes) -> list[tuple[int, list, list]]:
    """v9 options-template flowset payload (RFC 3954 §6.1) →
    [(template_id, scope_fields, option_fields)]. Lengths in the header
    are BYTE lengths of each section (4 bytes per field entry)."""
    out = []
    off = 0
    while off + 6 <= len(payload):
        tid, scope_len, opt_len = struct.unpack_from(">HHH", payload, off)
        off += 6
        if tid == 0:
            break
        if off + scope_len + opt_len > len(payload):
            break  # truncated options template: drop (total on cut input)
        scope, opts = [], []
        for _ in range(scope_len // 4):
            t, l = struct.unpack_from(">HH", payload, off)
            off += 4
            scope.append((t, l))
        for _ in range(opt_len // 4):
            t, l = struct.unpack_from(">HH", payload, off)
            off += 4
            opts.append((t, l))
        out.append((tid, scope, opts))
    return out


# RFC 3954 option field types: 34 SAMPLING_INTERVAL, 35 SAMPLING_ALGORITHM
_OPT_SAMPLING_INTERVAL = 34


def decode_flow_stream(
    content: bytes, with_meta: bool = False, exporter: str | None = None
) -> list[tuple] | tuple[list[tuple], dict]:
    """Decode one capture file of concatenated v9/IPFIX export packets.

    Returns ``[(ts, te, td, sa, da, sp, dp, pr, flg, ipkt, ibyt, ra),
    ...]`` in wire order — the FLOW_COLUMNS contract (with
    ``with_meta=True``: ``(flows, meta)`` where meta carries the
    per-source exporter metadata learned from v9 OPTIONS records —
    currently ``{"sampling": {source_id: interval}}``). Templates AND
    options templates are cached per (source/domain id, template id)
    for the lifetime of the stream, so data FlowSets in later packets
    decode against templates announced earlier — the stateful property
    fixed v5 never needed.

    ``exporter`` is the transport-peer address the capture came from
    (nfcapd knows it from the UDP socket; a file replay supplies it
    from config, like ``flowsrc``); default renders the in-band source
    id as ``sid-<n>``.

    Desync guard (ADVICE r3): v9 packets carry a record COUNT but no
    byte length, so a data FlowSet skipped for want of its template
    leaves ``seen < count`` with no way to account for its records. The
    flowset ids 2–255 are reserved and never legitimate on the wire —
    in that position the bytes are, in practice, the next packet's
    version field — so the flowset loop breaks WITHOUT consuming when
    it sees one, letting the outer loop resynchronize on the header.
    """
    templates: dict[tuple[int, int], list] = {}
    opt_templates: dict[tuple[int, int], tuple[list, list]] = {}
    sampling: dict[int, int] = {}
    flows: list[tuple] = []
    off = 0
    n = len(content)
    while off + 4 <= n:
        version = struct.unpack_from(">H", content, off)[0]
        if version == 9:
            if off + 20 > n:
                break
            _, count, sys_uptime, unix_secs, _, source_id = struct.unpack_from(
                _V9_HEADER, content, off
            )
            off += 20
            export_ms = unix_secs * 1000
            ra = exporter or f"sid-{source_id}"
            seen = 0
            while seen < count and off + 4 <= n:
                fsid, flen = struct.unpack_from(">HH", content, off)
                if 1 < fsid < 256:
                    break  # reserved id ⇒ next packet header (resync)
                if flen < 4:
                    break
                payload = content[off + 4 : off + flen]
                off += flen
                if fsid == 0:  # template flowset
                    for tid, fields in _parse_templates(payload, ipfix=False):
                        templates[(source_id, tid)] = fields
                        seen += 1
                elif fsid == 1:  # options templates (scope + option fields)
                    for tid, scope, opts in _parse_options_templates(payload):
                        opt_templates[(source_id, tid)] = (scope, opts)
                        seen += 1
                elif (source_id, fsid) in opt_templates:
                    scope, opts = opt_templates[(source_id, fsid)]
                    rec_len = sum(l for _, l in scope) + sum(l for _, l in opts)
                    if rec_len <= 0:
                        continue
                    p = 0
                    while p + rec_len <= len(payload) and seen < count:
                        q = p + sum(l for _, l in scope)  # skip scope values
                        for t, l in opts:
                            if t == _OPT_SAMPLING_INTERVAL:
                                sampling[source_id] = _uint(
                                    payload[q : q + l]
                                )
                            q += l
                        p += rec_len
                        seen += 1
                else:
                    fields = templates.get((source_id, fsid))
                    if fields is None:
                        continue  # data before its template: undecodable
                    recs = _parse_data(payload, fields, count - seen)
                    seen += len(recs)
                    flows.extend(
                        _finalize(r, export_ms, sys_uptime, ra) for r in recs
                    )
        elif version == 10:
            if off + 16 > n:
                break
            _, length, export_time, _, domain = struct.unpack_from(
                _IPFIX_HEADER, content, off
            )
            end = off + length
            off += 16
            export_ms = export_time * 1000
            ra = exporter or f"sid-{domain}"
            while off + 4 <= min(end, n):
                sid, slen = struct.unpack_from(">HH", content, off)
                if slen < 4:
                    break
                payload = content[off + 4 : off + slen]
                off += slen
                if sid == 2:  # template set
                    for tid, fields in _parse_templates(payload, ipfix=True):
                        templates[(domain, tid)] = fields
                elif sid == 3:  # options template set: skip
                    pass
                elif sid > 255:
                    fields = templates.get((domain, sid))
                    if fields is None:
                        continue
                    flows.extend(
                        _finalize(r, export_ms, 0, ra)
                        for r in _parse_data(payload, fields)
                    )
            off = end
        else:
            break
    if with_meta:
        return flows, {"sampling": sampling}
    return flows


# --- deterministic generators (the test ground truth) ------------------------

# template 256: the 'natural' IPv4 order with TCP flags + sysUptime-
# relative timestamps; 257 permutes fields AND pads with an undecoded
# type (10 INPUT_SNMP) to prove template-driven skip; 258 is the IPv6
# layout (types 27/28, 16 bytes each)
_T256 = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1), (2, 4), (1, 4),
         (22, 4), (21, 4)]
_T257 = [(1, 4), (21, 4), (2, 4), (4, 1), (10, 2), (8, 4), (12, 4), (11, 2),
         (7, 2), (22, 4), (6, 1)]
_T258 = [(27, 16), (28, 16), (7, 2), (11, 2), (4, 1), (6, 1), (2, 4), (1, 4),
         (22, 4), (21, 4)]

_BASE_SECS = 1_709_251_200


def _flow_values(f: int, r: int) -> dict:
    pkts = 1 + (r * 5 + f) % 90
    pr = 17 if r % 3 else 6
    start_ms = (_BASE_SECS + 300 * f) * 1000 + r * 1000
    return {
        "sa": (10 << 24) | (f << 16) | (r % 250),
        "da": (172 << 24) | (16 << 16) | (f << 8) | (r % 250),
        "sa6": (0x2001_0DB8 << 96) | (f << 16) | (r % 250),
        "da6": (0x2001_0DB8 << 96) | (0xFACE << 32) | (f << 8) | (r % 250),
        "sp": 1024 + r,
        "dp": 53 if r % 3 else 443,
        "pr": pr,
        "flg": (0x10 | (0x02 if r % 5 == 0 else 0) | (0x01 if r % 7 == 0 else 0))
        if pr == 6
        else 0,
        "ipkt": pkts,
        "ibyt": pkts * (40 + (r * 11) % 1200),
        "start_ms": start_ms,
        "end_ms": start_ms + (r * 37) % 60_000,
    }


def _expected_tuple(
    f: int, r: int, v6: bool = False, exporter: str | None = None
) -> tuple:
    v = _flow_values(f, r)
    sa = _ip6(v["sa6"]) if v6 else _ip(v["sa"])
    da = _ip6(v["da6"]) if v6 else _ip(v["da"])
    return (
        v["start_ms"],
        v["end_ms"],
        (v["end_ms"] - v["start_ms"]) / 1000.0,
        sa,
        da,
        v["sp"],
        v["dp"],
        _PROTO_NAMES[v["pr"]],
        _flags(v["flg"]),
        v["ipkt"],
        v["ibyt"],
        exporter or "sid-7",
    )


def _pack_record(
    fields: list, v: dict, sys_uptime: int = 0, unix_secs: int = 0
) -> bytes:
    """Pack one record under ``fields``; sysUptime-relative time fields
    (21/22) are derived from the EXPORTING packet's header pair — the
    inverse of ``_finalize``'s absolute-time arithmetic."""
    export_ms = unix_secs * 1000
    out = b""
    for ftype, flen in fields:
        if ftype == 22:
            val = v["start_ms"] - export_ms + sys_uptime
        elif ftype == 21:
            val = v["end_ms"] - export_ms + sys_uptime
        elif ftype == 152:
            val = v["start_ms"]
        elif ftype == 153:
            val = v["end_ms"]
        elif ftype == 4:
            val = v["pr"]
        elif ftype == 6:
            val = v["flg"]
        else:
            slot = _FIELD_SLOT.get(ftype)
            val = v[slot] if slot is not None and slot in v else 0
        out += int(val).to_bytes(flen, "big")
    return out


def _template_flowset(fsid: int, tid: int, fields: list) -> bytes:
    body = struct.pack(">HH", tid, len(fields)) + b"".join(
        struct.pack(">HH", t, l) for t, l in fields
    )
    return struct.pack(">HH", fsid, 4 + len(body)) + body


def _data_flowset(tid: int, recs: list[bytes]) -> bytes:
    body = b"".join(recs)
    pad = (-len(body)) % 4  # 32-bit alignment padding per RFC 3954
    return struct.pack(">HH", tid, 4 + len(body) + pad) + body + b"\x00" * pad


def _options_flowsets(tid: int, interval: int) -> tuple[bytes, bytes, int]:
    """(options template flowset, options data flowset, n_records): one
    scope field (0x0001 System, 4 bytes) + SAMPLING_INTERVAL(34, 4) +
    SAMPLING_ALGORITHM(35, 1); data flowset padded to 32 bits."""
    scope, opts = [(1, 4)], [(34, 4), (35, 1)]
    body = struct.pack(">HHH", tid, 4 * len(scope), 4 * len(opts))
    for t, l in scope + opts:
        body += struct.pack(">HH", t, l)
    tmpl = struct.pack(">HH", 1, 4 + len(body)) + body
    rec = (0).to_bytes(4, "big") + interval.to_bytes(4, "big") + (1).to_bytes(1, "big")
    pad = (-len(rec)) % 4
    data = struct.pack(">HH", tid, 4 + len(rec) + pad) + rec + b"\x00" * pad
    return tmpl, data, 2  # template record + 1 data record


def write_netflow_v9(
    path: str,
    n_files: int = 4,
    records_per_file: int = 30,
    sampling_interval: int = 0,
    exporter: str | None = None,
) -> list[tuple]:
    """Write deterministic v9 capture files; returns the expected decoded
    flow tuples (the roundtrip ground truth, full FLOW_COLUMNS shape).

    Each file = packet 1 (templates 256+257+258 announced, data for 256)
    followed by packet 2 (data for ALL three templates — the IPv4
    permuted-order 257 slice and the IPv6 258 slice — templates NOT
    resent: decoding packet 2 requires the cache from packet 1).
    sysUptime starts at one hour so every flow age fits the uptime
    clock; FIRST/LAST_SWITCHED round-trip exactly through the
    header-pair arithmetic. ``sampling_interval`` > 0 additionally
    announces an OPTIONS template (id 1024) in packet 1 and sends one
    options data record carrying SAMPLING_INTERVAL — the exporter
    metadata path.
    """
    os.makedirs(path, exist_ok=True)
    expected: list[tuple] = []
    for f in range(n_files):
        half = records_per_file // 2
        a_end = min(half + 5, records_per_file)  # packet-2 T256 slice
        b_end = a_end + (records_per_file - a_end) // 2  # T257 slice; rest T258
        up1, secs1 = 3_600_000 + 60_000 * f, _BASE_SECS + 300 * f
        up2, secs2 = up1 + 1000, secs1 + 60
        recs1 = [
            _pack_record(_T256, _flow_values(f, r), up1, secs1)
            for r in range(half)
        ]
        recs2a = [
            _pack_record(_T256, _flow_values(f, r), up2, secs2)
            for r in range(half, a_end)
        ]
        recs2b = [
            _pack_record(_T257, _flow_values(f, r), up2, secs2)
            for r in range(a_end, b_end)
        ]
        recs2c = [
            _pack_record(_T258, _flow_values(f, r), up2, secs2)
            for r in range(b_end, records_per_file)
        ]
        expected.extend(
            _expected_tuple(f, r, v6=r >= b_end, exporter=exporter)
            for r in range(records_per_file)
        )
        p1_sets = (
            _template_flowset(0, 256, _T256)
            + _template_flowset(0, 257, _T257)
            + _template_flowset(0, 258, _T258)
            + _data_flowset(256, recs1)
        )
        n_opt = 0
        if sampling_interval:
            otmpl, odata, n_opt = _options_flowsets(1024, sampling_interval)
            p1_sets += otmpl + odata
        p1 = struct.pack(
            _V9_HEADER,
            9,
            3 + len(recs1) + n_opt,
            up1,
            secs1,
            f,
            7,
        ) + p1_sets
        p2_sets = (
            _data_flowset(256, recs2a)
            + _data_flowset(257, recs2b)
            + _data_flowset(258, recs2c)
        )
        p2 = struct.pack(
            _V9_HEADER,
            9,
            len(recs2a) + len(recs2b) + len(recs2c),
            up2,
            secs2,
            f + 1,
            7,
        ) + p2_sets
        with open(os.path.join(path, f"nfcapd.v9.{f:04d}"), "wb") as fh:
            fh.write(p1 + p2)
    return expected


def write_ipfix(
    path: str,
    n_files: int = 2,
    records_per_file: int = 20,
    exporter: str | None = None,
) -> list[tuple]:
    """Write deterministic IPFIX (v10) files; returns expected tuples.
    Template 256 is announced with an ENTERPRISE-numbered padding field
    (bit 15 set + 4-byte PEN) to exercise the RFC 7011 skip path; flow
    times ride the absolute flowStart/EndMilliseconds IEs 152/153."""
    os.makedirs(path, exist_ok=True)
    t256_wire = [(8, 4), (12, 4), (0x8000 | 210, 2), (7, 2), (11, 2), (4, 1),
                 (6, 1), (2, 4), (1, 4), (152, 8), (153, 8)]
    t256_logical = [(t & 0x7FFF, l) for t, l in t256_wire]
    expected: list[tuple] = []
    for f in range(n_files):
        recs = [
            _pack_record(t256_logical, _flow_values(100 + f, r))
            for r in range(records_per_file)
        ]
        expected.extend(
            _expected_tuple(100 + f, r, exporter=exporter)[:-1]
            + (exporter or "sid-9",)
            for r in range(records_per_file)
        )
        tmpl_body = struct.pack(">HH", 256, len(t256_wire))
        for t, l in t256_wire:
            tmpl_body += struct.pack(">HH", t, l)
            if t & 0x8000:
                tmpl_body += struct.pack(">I", 12345)  # private enterprise number
        tmpl_set = struct.pack(">HH", 2, 4 + len(tmpl_body)) + tmpl_body
        data_body = b"".join(recs)
        pad = (-len(data_body)) % 4
        data_set = struct.pack(">HH", 256, 4 + len(data_body) + pad) + data_body + b"\x00" * pad
        msg_len = 16 + len(tmpl_set) + len(data_set)
        pkt = (
            struct.pack(_IPFIX_HEADER, 10, msg_len, _BASE_SECS + 300 * f, f, 9)
            + tmpl_set
            + data_set
        )
        with open(os.path.join(path, f"nfcapd.ipfix.{f:04d}"), "wb") as fh:
            fh.write(pkt)
    return expected
