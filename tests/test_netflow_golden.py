"""NetFlow v5 / v9 format-conformance golden fixtures.

The fuzz/roundtrip tests in test_property.py encode with the module's
OWN writers, which cannot catch a layout convention wrong on both
sides (the failure mode ADVICE r5 found in the nffile reader). These
fixtures are hand-packed byte-by-byte from the PUBLISHED formats —
Cisco's NetFlow v5 export datagram layout (24-byte header + 48-byte
records, all big-endian) and RFC 3954 (v9 packet header, template
FlowSet id 0, data FlowSets padded to 32-bit alignment) — with every
field placed by offset/width from the spec, never via the module's
struct constants. Survey ref: SURVEY §1.2 FLOW_COLUMNS contract,
§3.1 collector surface.
"""

from __future__ import annotations

from nfdump2clickhouse_spark.operators.flows import decode_v5
from nfdump2clickhouse_spark.sources.netflow_v9 import decode_flow_stream


def be(v: int, n: int) -> bytes:
    return int(v).to_bytes(n, "big")


# --- NetFlow v5 (Cisco published layout) --------------------------------------


def _v5_header(count: int) -> bytes:
    return (
        be(5, 2)              # version
        + be(count, 2)        # count
        + be(60_000, 4)       # SysUptime ms
        + be(1_709_251_200, 4)  # unix_secs
        + be(0, 4)            # unix_nsecs
        + be(0, 4)            # flow_sequence
        + be(0, 1)            # engine_type
        + be(0, 1)            # engine_id
        + be(0, 2)            # sampling_interval
    )


def _v5_record(src, dst, pkts, octets, sp, dp, proto) -> bytes:
    return (
        be(src, 4)            # srcaddr
        + be(dst, 4)          # dstaddr
        + be(0, 4)            # nexthop
        + be(1, 2)            # input ifindex
        + be(2, 2)            # output ifindex
        + be(pkts, 4)         # dPkts
        + be(octets, 4)       # dOctets
        + be(1000, 4)         # First (sysUptime ms)
        + be(2000, 4)         # Last
        + be(sp, 2)           # srcport
        + be(dp, 2)           # dstport
        + be(0, 1)            # pad1
        + be(0x18, 1)         # tcp_flags
        + be(proto, 1)        # prot
        + be(0, 1)            # tos
        + be(100, 2)          # src_as
        + be(200, 2)          # dst_as
        + be(24, 1)           # src_mask
        + be(24, 1)           # dst_mask
        + be(0, 2)            # pad2
    )


def test_v5_golden_packet_decodes_exactly():
    pkt = (
        _v5_header(2)
        + _v5_record(0x0A000001, 0xC0A80102, 10, 5000, 1234, 443, 6)
        + _v5_record(0xAC100509, 0x0A090807, 3, 300, 53, 5353, 17)
    )
    assert len(pkt) == 24 + 2 * 48  # spec sizes, not module constants
    assert decode_v5(pkt) == [
        ("10.0.0.1", "192.168.1.2", 1234, 443, 6, 10, 5000),
        ("172.16.5.9", "10.9.8.7", 53, 5353, 17, 3, 300),
    ]


def test_v5_wrong_version_yields_nothing():
    pkt = _v5_header(1) + _v5_record(0x0A000001, 0x0A000002, 1, 64, 1, 2, 6)
    assert decode_v5(b"\x00\x04" + pkt[2:]) == []


# --- NetFlow v9 (RFC 3954) -----------------------------------------------------

# template 300: the ten FLOW_COLUMNS-relevant fields, spec type ids
_V9_FIELDS = [
    (8, 4),   # IPV4_SRC_ADDR
    (12, 4),  # IPV4_DST_ADDR
    (7, 2),   # L4_SRC_PORT
    (11, 2),  # L4_DST_PORT
    (4, 1),   # PROTOCOL
    (6, 1),   # TCP_FLAGS
    (2, 4),   # IN_PKTS
    (1, 4),   # IN_BYTES
    (22, 4),  # FIRST_SWITCHED (sysUptime ms)
    (21, 4),  # LAST_SWITCHED
]


def _v9_header(count: int) -> bytes:
    return (
        be(9, 2)
        + be(count, 2)
        + be(60_000, 4)          # sysUptime ms
        + be(1_709_251_200, 4)   # unixSecs
        + be(1, 4)               # sequence
        + be(7, 4)               # sourceId
    )


def _v9_template_flowset() -> bytes:
    payload = be(300, 2) + be(len(_V9_FIELDS), 2)
    for ftype, flen in _V9_FIELDS:
        payload += be(ftype, 2) + be(flen, 2)
    return be(0, 2) + be(4 + len(payload), 2) + payload


def _v9_data_flowset() -> bytes:
    rec = (
        be(0x0A000001, 4)   # 10.0.0.1
        + be(0xC0A80102, 4)  # 192.168.1.2
        + be(1234, 2)
        + be(443, 2)
        + be(6, 1)           # TCP
        + be(0x18, 1)        # ACK|PSH -> ".AP..."
        + be(10, 4)
        + be(5000, 4)
        + be(30_000, 4)      # FIRST_SWITCHED
        + be(45_000, 4)      # LAST_SWITCHED
    )
    assert len(rec) == 30
    # RFC 3954: FlowSets pad to a 32-bit boundary -> 4+30+2 pad = 36
    return be(300, 2) + be(36, 2) + rec + b"\x00\x00"


_EXPECTED_FLOW = (
    1_709_251_200_000 - 60_000 + 30_000,  # ts: unixSecs*1000 - uptime + First
    1_709_251_200_000 - 60_000 + 45_000,  # te
    15.0,                                 # td seconds
    "10.0.0.1",
    "192.168.1.2",
    1234,
    443,
    "TCP",
    ".AP...",
    10,
    5000,
    "sid-7",
)


def test_v9_golden_packet_decodes_exactly():
    """One packet: template flowset + padded data flowset (header count
    2 = 1 template record + 1 data record, RFC 3954 §5.1). Pins the
    absolute-time derivation, protocol/flag rendering, and that the
    2 padding bytes do NOT become a phantom record."""
    pkt = _v9_header(2) + _v9_template_flowset() + _v9_data_flowset()
    assert decode_flow_stream(pkt) == [_EXPECTED_FLOW]


def test_v9_data_before_template_is_skipped_then_resyncs():
    """Packet 1 carries a data flowset whose template is unknown (spec:
    undecodable — a collector must drop it), packet 2 announces the
    template and repeats the data: exactly ONE flow decodes, and the
    desync guard re-locks on packet 2's header."""
    p1 = _v9_header(1) + _v9_data_flowset()
    p2 = _v9_header(2) + _v9_template_flowset() + _v9_data_flowset()
    assert decode_flow_stream(p1 + p2) == [_EXPECTED_FLOW]


def test_v9_template_persists_across_packets():
    """RFC 3954 §9: templates announced once apply to later packets of
    the same source id for the stream's lifetime."""
    p1 = _v9_header(1) + _v9_template_flowset()
    p2 = _v9_header(1) + _v9_data_flowset()
    assert decode_flow_stream(p1 + p2) == [_EXPECTED_FLOW]


# --- IPFIX (RFC 7011) ----------------------------------------------------------


def _ipfix_template_set(tid: int, fields) -> bytes:
    payload = be(tid, 2) + be(len(fields), 2)
    for ftype, flen in fields:
        payload += be(ftype, 2) + be(flen, 2)
    return be(2, 2) + be(4 + len(payload), 2) + payload


_IPFIX_FIELDS = [
    (8, 4), (12, 4), (7, 2), (11, 2), (4, 1), (6, 1), (2, 4), (1, 4),
    (152, 8),  # flowStartMilliseconds (absolute, dateTimeMilliseconds)
    (153, 8),  # flowEndMilliseconds
]


def _ipfix_data_set(tid: int) -> bytes:
    rec = (
        be(0x0A000001, 4)
        + be(0xC0A80102, 4)
        + be(1234, 2)
        + be(443, 2)
        + be(6, 1)
        + be(0x18, 1)
        + be(10, 4)
        + be(5000, 4)
        + be(1_709_251_170_000, 8)
        + be(1_709_251_185_000, 8)
    )
    assert len(rec) == 38
    # RFC 7011 §3.3.1: sets may pad, padding shorter than one record
    return be(tid, 2) + be(4 + len(rec) + 2, 2) + rec + b"\x00\x00"


def test_ipfix_golden_packet_decodes_exactly():
    """RFC 7011 message: 16-byte header (version 10 + TOTAL length),
    template set id 2, data set id = template id, absolute millisecond
    timestamps taken verbatim (no sysUptime arithmetic)."""
    body = _ipfix_template_set(400, _IPFIX_FIELDS) + _ipfix_data_set(400)
    pkt = (
        be(10, 2)
        + be(16 + len(body), 2)     # length counts the header itself
        + be(1_709_251_200, 4)      # exportTime (unused for ts here)
        + be(1, 4)                  # sequence
        + be(9, 4)                  # observationDomainId
        + body
    )
    assert decode_flow_stream(pkt) == [
        (
            1_709_251_170_000,
            1_709_251_185_000,
            15.0,
            "10.0.0.1",
            "192.168.1.2",
            1234,
            443,
            "TCP",
            ".AP...",
            10,
            5000,
            "sid-9",
        )
    ]


def test_v9_options_template_sampling_golden():
    """RFC 3954 §6.1 options template (flowset id 1, byte-length scope/
    option sections) announcing System-scoped SAMPLING_INTERVAL (type
    34), then an options data record carrying interval=100: no flows,
    and with_meta surfaces {"sampling": {sourceId: 100}}."""
    # options template: tid=500, scope 4 bytes = one (type=1 System, len=2),
    # options 4 bytes = one (type=34 SAMPLING_INTERVAL, len=4)
    ot_payload = (
        be(500, 2) + be(4, 2) + be(4, 2)
        + be(1, 2) + be(2, 2)
        + be(34, 2) + be(4, 2)
    )
    ot = be(1, 2) + be(4 + len(ot_payload), 2) + ot_payload
    # options data record: 2-byte scope value + 4-byte interval, 2 pad
    od_rec = be(0, 2) + be(100, 4)
    od = be(500, 2) + be(4 + len(od_rec) + 2, 2) + od_rec + b"\x00\x00"
    pkt = _v9_header(2) + ot + od
    flows, meta = decode_flow_stream(pkt, with_meta=True)
    assert flows == []
    assert meta == {"sampling": {7: 100}}
