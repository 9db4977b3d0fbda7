"""Binary wire protocols for the last manifest connectors: ganglia
(gmetric XDR, default_plugins.rb `logstash-input-ganglia` /
`logstash-output-ganglia`), nagios_nsca (NSCA v3 frames,
`logstash-output-nagios_nsca`), and snmptrap (SNMPv1/v2c BER,
`logstash-input-snmptrap`).

All three grammars are public (Ganglia 3.1 XDR gmetric packets; the NSCA
2.x `data_packet` struct from nsca's common.h; X.690 BER + RFC 1157/3416
trap PDUs) and fixed enough for stdlib `struct` — the same stance as
netflow v5 and collectd in codecs.py: decode runs as an Arrow-batched
mapInPandas over a binary column (linear, shuffle-free, scale-safe), and
each protocol ships a pure-Python encoder so output->input round-trips
the real bytes in tests without any live daemon.

Scale notes (100 TB): every decoder here is a map-only pass — one packet
in, k rows out, no state across packets (ganglia metadata/value pairing is
within-batch best-effort plus a join-free fallback, documented below).
Hostile input never throws: short/garbage packets are skipped (netflow
stance), malformed BER yields a `_snmptrapparsefailure` tag row.
"""
from __future__ import annotations

import struct

from pyspark.sql import DataFrame

__all__ = [
    "encode_ganglia",
    "decode_ganglia",
    "encode_nsca",
    "decode_nsca",
    "NSCA_SCHEMA",
    "encode_snmp_trap",
    "decode_snmptrap",
    "SNMPTRAP_SCHEMA",
]

# ---------------------------------------------------------------------------
# ganglia — Ganglia 3.1 gmetric XDR packets (the bytes the gmetric gem the
# reference's output plugin wraps puts on the wire; the input plugin's UDP
# listener decodes the same). Two packets per metric: a metadata packet
# (magic 128) and a string-value packet (magic 133 = 128+5).
# ---------------------------------------------------------------------------

_GMETADATA_FULL = 128
_GMETRIC_STRING = 133
# typed value packets (gm_protocol.x): ushort/short/int/uint ride XDR
# 4-byte ints; float/double are IEEE BE. All render into the string `val`
# column (the plugin's event field is the formatted value).
_GMETRIC_INTS = {129, 130, 131, 132}
_GMETRIC_FLOAT = 134
_GMETRIC_DOUBLE = 135


def _xdr_string(s: str) -> bytes:
    b = s.encode("utf-8")
    pad = (4 - len(b) % 4) % 4
    return struct.pack(">I", len(b)) + b + b"\x00" * pad


def _xdr_read_string(buf: bytes, off: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">I", buf, off)
    off += 4
    if n > len(buf) - off:
        raise ValueError("xdr string overruns packet")
    s = buf[off:off + n].decode("utf-8", errors="replace")
    off += n + ((4 - n % 4) % 4)
    return s, off


def encode_ganglia(
    host: str,
    name: str,
    value: str,
    *,
    ganglia_type: str = "uint8",
    units: str = "",
    slope: int = 3,
    tmax: int = 60,
    dmax: int = 0,
) -> tuple[bytes, bytes]:
    """One gmetric = (metadata packet, value packet), Ganglia 3.1 XDR."""
    meta = (
        struct.pack(">I", _GMETADATA_FULL)
        + _xdr_string(host)
        + _xdr_string(name)
        + struct.pack(">I", 0)  # spoof
        + _xdr_string(ganglia_type)
        + _xdr_string(name)
        + _xdr_string(units)
        + struct.pack(">IIII", slope, tmax, dmax, 0)  # 0 extra elements
    )
    val = (
        struct.pack(">I", _GMETRIC_STRING)
        + _xdr_string(host)
        + _xdr_string(name)
        + struct.pack(">I", 0)
        + _xdr_string("%s")
        + _xdr_string(str(value))
    )
    return meta, val


_SLOPES = {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def decode_ganglia(df: DataFrame, source: str = "bytes") -> DataFrame:
    """ganglia input decode: value packets become events (host, name, val)
    enriched with the metric's metadata packet (type/units/slope/tmax/dmax).

    The pairing is RELATIONAL, not arrival-order: one map-only parse
    emits both packet kinds, the metadata side collapses to one row per
    (host, metric) — it is a per-site config, cardinality = metric count,
    never data-sized — and broadcast-joins back onto the value rows.
    Order- and partition-independent (gmond resends metadata on its own
    schedule; a capture may split pairs across files), same broadcast-dim
    stance as the geoip/dns enrichments. A value whose metadata never
    appeared in the capture still emits with null metadata (the plugin
    logs-and-continues the same way)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    parse_schema = T._parse_datatype_string(
        "kind string, host string, name string, val string, ganglia_type string, "
        "units string, slope int, tmax int, dmax int")
    cols = ["kind", "host", "name", "val", "ganglia_type", "units",
            "slope", "tmax", "dmax"]

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[source]:
                if raw is None or len(raw) < 8:
                    continue
                buf = bytes(raw)
                try:
                    (magic,) = struct.unpack_from(">I", buf, 0)
                    if magic == _GMETADATA_FULL:
                        host, off = _xdr_read_string(buf, 4)
                        name, off = _xdr_read_string(buf, off)
                        off += 4  # spoof
                        gtype, off = _xdr_read_string(buf, off)
                        _, off = _xdr_read_string(buf, off)  # name again
                        units, off = _xdr_read_string(buf, off)
                        slope, tmax, dmax = struct.unpack_from(">III", buf, off)
                        rows.append(("m", host, name, None, gtype, units,
                                     _SLOPES.get(slope, 3), tmax, dmax))
                    elif magic == _GMETRIC_STRING or magic in _GMETRIC_INTS \
                            or magic in (_GMETRIC_FLOAT, _GMETRIC_DOUBLE):
                        host, off = _xdr_read_string(buf, 4)
                        name, off = _xdr_read_string(buf, off)
                        off += 4  # spoof
                        _, off = _xdr_read_string(buf, off)  # fmt
                        if magic == _GMETRIC_STRING:
                            val, off = _xdr_read_string(buf, off)
                        elif magic in _GMETRIC_INTS:
                            # u/short/int ride XDR 4-byte ints; 132 (uint)
                            # is the only unsigned read
                            kind = ">I" if magic == 132 else ">i"
                            (n,) = struct.unpack_from(kind, buf, off)
                            val = str(n)
                        elif magic == _GMETRIC_FLOAT:
                            (f_,) = struct.unpack_from(">f", buf, off)
                            val = repr(f_)
                        else:
                            (f_,) = struct.unpack_from(">d", buf, off)
                            val = repr(f_)
                        rows.append(("v", host, name, val,
                                     None, None, None, None, None))
                except (struct.error, ValueError):
                    continue  # hostile/truncated packet: skip (netflow stance)
            yield pd.DataFrame(rows, columns=cols)

    parsed = df.mapInPandas(batches, parse_schema)
    vals = parsed.filter(F.col("kind") == "v").select("host", "name", "val")
    # one WHOLE metadata record per key: column-wise max could blend fields
    # from different packets if a metric's metadata changed mid-capture
    # (units from one packet, slope from another). max_by on the full struct
    # under a deterministic ordering keeps the record atomic.
    meta = (
        parsed.filter(F.col("kind") == "m")
        .groupBy("host", "name")
        .agg(F.max_by(
            F.struct("ganglia_type", "units", "slope", "tmax", "dmax"),
            F.struct("ganglia_type", "units", "slope", "tmax", "dmax"),
        ).alias("_m"))
        .select("host", "name", "_m.ganglia_type", "_m.units",
                "_m.slope", "_m.tmax", "_m.dmax")
    )
    return vals.join(F.broadcast(meta), ["host", "name"], "left").select(
        "host", "name", "val", "ganglia_type", "units", "slope", "tmax", "dmax")


# ---------------------------------------------------------------------------
# nagios_nsca — the NSCA 2.x/3.x data_packet (nsca common.h): 720 bytes,
#   int16 version(3) | 2 pad | u32 crc32 | u32 timestamp | int16 return_code
#   | char host[64] | char service[128] | char output[512] | 2 pad
# CRC-32 is computed over the frame with the crc field zeroed. The
# reference plugin shells out to send_nsca; this sink writes the frame
# send_nsca would put on the wire AFTER the handshake, in encryption mode
# 0 (none) so the bytes are deterministic (XOR mode needs the server IV).
# ---------------------------------------------------------------------------

_NSCA_FMT = ">hxxIIh64s128s512sxx"
NSCA_SIZE = struct.calcsize(_NSCA_FMT)  # 720


def encode_nsca(
    host: str, service: str, return_code: int, output: str, *, timestamp: int = 0
) -> bytes:
    import zlib

    def cfix(s: str, n: int) -> bytes:
        return s.encode("utf-8", errors="replace")[: n - 1]  # NUL-terminated

    # clamp event-derived numerics to the struct's ranges — hostile data
    # must never abort the whole write with a struct.error: out-of-range
    # status becomes 3 (UNKNOWN, nagios semantics), timestamps clamp to
    # the u32 epoch window
    if not 0 <= return_code <= 3:
        return_code = 3
    timestamp = min(max(int(timestamp), 0), 0xFFFFFFFF)
    frame = struct.pack(
        _NSCA_FMT, 3, 0, timestamp, return_code,
        cfix(host, 64), cfix(service, 128), cfix(output, 512),
    )
    crc = zlib.crc32(frame) & 0xFFFFFFFF
    return frame[:4] + struct.pack(">I", crc) + frame[8:]


NSCA_SCHEMA = (
    "nagios_host string, nagios_service string, return_code int, "
    "output string, timestamp bigint, crc_ok boolean"
)


def decode_nsca(df: DataFrame, source: str = "bytes") -> DataFrame:
    """Parse NSCA v3 frames back into (host, service, code, output) — the
    collector side, used to round-trip the sink in tests."""
    import zlib

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(NSCA_SCHEMA)

    def cstr(b: bytes) -> str:
        return b.split(b"\x00", 1)[0].decode("utf-8", errors="replace")

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[source]:
                if raw is None or len(raw) != NSCA_SIZE:
                    continue
                buf = bytes(raw)
                ver, crc, ts, code, h, s, o = struct.unpack(_NSCA_FMT, buf)
                if ver != 3:
                    continue
                expect = zlib.crc32(buf[:4] + b"\x00\x00\x00\x00" + buf[8:]) & 0xFFFFFFFF
                rows.append((cstr(h), cstr(s), code, cstr(o), ts, crc == expect))
            yield pd.DataFrame(
                rows,
                columns=["nagios_host", "nagios_service", "return_code",
                         "output", "timestamp", "crc_ok"],
            )

    return df.mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# snmptrap — minimal X.690 BER reader for SNMPv1 (RFC 1157 Trap-PDU, tag
# 0xA4) and SNMPv2c (RFC 3416 SNMPv2-Trap-PDU, tag 0xA7) messages. Pure
# Python, definite lengths only (traps are tiny); the vendored-msgpack /
# EDN-reader precedent for an absent external stack (the plugin rides the
# ruby snmp gem). Varbinds surface as a map<oid string, value string> —
# the plugin sets one event field per varbind OID, which a fixed schema
# can't do; the map is the columnar equivalent (callers project with
# element_at). Malformed BER -> one row tagged _snmptrapparsefailure.
# ---------------------------------------------------------------------------


def _ber_len(buf: bytes, off: int) -> tuple[int, int]:
    b0 = buf[off]
    off += 1
    if b0 < 0x80:
        return b0, off
    n = b0 & 0x7F
    if n == 0 or n > 4:
        raise ValueError("indefinite/oversize BER length")
    val = int.from_bytes(buf[off:off + n], "big")
    return val, off + n


def _ber_tlv(buf: bytes, off: int) -> tuple[int, bytes, int]:
    if off >= len(buf):
        raise ValueError("BER truncated")
    tag = buf[off]
    ln, body_off = _ber_len(buf, off + 1)
    end = body_off + ln
    if end > len(buf):
        raise ValueError("BER value overruns buffer")
    return tag, buf[body_off:end], end


def _ber_oid(body: bytes) -> str:
    """X.690 8.19: subidentifiers are base-128 with continuation bits; the
    FIRST subidentifier encodes arc1*40+arc2 and may itself be multi-byte
    (joint-iso-itu-t arcs >= 40 encode values >= 120, e.g. 2.49 -> 129).
    An unterminated trailing subid is a truncated OID -> reject (the
    decode wrapper turns this into the parse-failure tag)."""
    if not body:
        return ""
    subids: list[int] = []
    val = 0
    pending = False
    for b in body:
        val = (val << 7) | (b & 0x7F)
        pending = bool(b & 0x80)
        if not pending:
            subids.append(val)
            val = 0
    if pending:
        raise ValueError("truncated OID subidentifier")
    first = subids[0]
    if first < 40:
        parts = [0, first]
    elif first < 80:
        parts = [1, first - 40]
    else:
        parts = [2, first - 80]
    return ".".join(str(x) for x in parts + subids[1:])


def _ber_int(body: bytes) -> int:
    return int.from_bytes(body, "big", signed=True)


def _ber_uint(body: bytes) -> int:
    return int.from_bytes(body, "big", signed=False)


def _ber_value(tag: int, body: bytes) -> str:
    if tag == 0x02:  # INTEGER
        return str(_ber_int(body))
    if tag == 0x04:  # OCTET STRING
        return body.decode("utf-8", errors="replace")
    if tag == 0x05:  # NULL
        return ""
    if tag == 0x06:  # OID
        return _ber_oid(body)
    if tag == 0x40:  # IpAddress
        return ".".join(str(b) for b in body)
    if tag in (0x41, 0x42, 0x43, 0x46):  # Counter32/Gauge32/TimeTicks/Counter64
        return str(_ber_uint(body))
    return body.hex()


SNMPTRAP_SCHEMA = (
    "version int, community string, trap_oid string, agent_addr string, "
    "generic_trap int, specific_trap int, timestamp bigint, "
    "varbinds map<string,string>, tags array<string>"
)


def _parse_trap(buf: bytes) -> tuple:
    tag, msg, _ = _ber_tlv(buf, 0)
    if tag != 0x30:
        raise ValueError("not an SNMP message")
    off = 0
    tag, vbody, off = _ber_tlv(msg, off)
    version = _ber_int(vbody)  # 0 = v1, 1 = v2c
    tag, cbody, off = _ber_tlv(msg, off)
    community = cbody.decode("utf-8", errors="replace")
    pdu_tag, pdu, _ = _ber_tlv(msg, off)
    if pdu_tag == 0xA4 and version == 0:  # v1 Trap-PDU
        off = 0
        tag, b, off = _ber_tlv(pdu, off)
        enterprise = _ber_oid(b)
        tag, b, off = _ber_tlv(pdu, off)
        agent = ".".join(str(x) for x in b)
        tag, b, off = _ber_tlv(pdu, off)
        generic = _ber_int(b)
        tag, b, off = _ber_tlv(pdu, off)
        specific = _ber_int(b)
        tag, b, off = _ber_tlv(pdu, off)
        ts = _ber_uint(b)
        tag, vbs, off = _ber_tlv(pdu, off)
    elif pdu_tag == 0xA7 and version == 1:  # v2c SNMPv2-Trap-PDU
        off = 0
        tag, b, off = _ber_tlv(pdu, off)  # request-id
        tag, b, off = _ber_tlv(pdu, off)  # error-status
        tag, b, off = _ber_tlv(pdu, off)  # error-index
        tag, vbs, off = _ber_tlv(pdu, off)
        enterprise, agent, generic, specific, ts = None, None, None, None, None
    else:
        raise ValueError(f"unsupported PDU tag {pdu_tag:#x} for version {version}")

    varbinds: dict[str, str] = {}
    off = 0
    while off < len(vbs):
        tag, vb, off = _ber_tlv(vbs, off)
        if tag != 0x30:
            raise ValueError("varbind not a SEQUENCE")
        t2, oid_body, o2 = _ber_tlv(vb, 0)
        vt, vbody, _ = _ber_tlv(vb, o2)
        varbinds[_ber_oid(oid_body)] = _ber_value(vt, vbody)

    if version == 1:
        # v2c carries sysUpTime.0 and snmpTrapOID.0 as the first varbinds
        ts_s = varbinds.get("1.3.6.1.2.1.1.3.0")
        ts = int(ts_s) if ts_s and ts_s.isdigit() else None
        enterprise = varbinds.get("1.3.6.1.6.3.1.1.4.1.0")
    return (version, community, enterprise, agent, generic, specific, ts, varbinds)


def decode_snmptrap(df: DataFrame, source: str = "bytes") -> DataFrame:
    """snmptrap input decode over captured UDP datagrams (binary column)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(SNMPTRAP_SCHEMA)
    cols = ["version", "community", "trap_oid", "agent_addr", "generic_trap",
            "specific_trap", "timestamp", "varbinds", "tags"]

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf[source]:
                if raw is None:
                    continue
                try:
                    rows.append(_parse_trap(bytes(raw)) + ([],))
                except (ValueError, IndexError, struct.error):
                    rows.append(
                        (None, None, None, None, None, None, None, {},
                         ["_snmptrapparsefailure"])
                    )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batches, out_schema)


def _ber_wrap(tag: int, body: bytes) -> bytes:
    if len(body) < 0x80:
        return bytes([tag, len(body)]) + body
    lb = len(body).to_bytes((len(body).bit_length() + 7) // 8, "big")
    return bytes([tag, 0x80 | len(lb)]) + lb + body


def _ber_enc_oid(oid: str) -> bytes:
    parts = [int(x) for x in oid.split(".")]

    def base128(p: int) -> bytes:
        chunk = bytes([p & 0x7F])
        p >>= 7
        while p:
            chunk = bytes([0x80 | (p & 0x7F)]) + chunk
            p >>= 7
        return chunk

    # first subid is arc1*40+arc2 and may be multi-byte (2.49 -> 129)
    out = base128(parts[0] * 40 + parts[1])
    for p in parts[2:]:
        out += base128(p)
    return _ber_wrap(0x06, out)


def _ber_enc_int(tag: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 8) // 8) if v >= 0 else max(1, ((-v - 1).bit_length() + 8) // 8)
    return _ber_wrap(tag, v.to_bytes(n, "big", signed=True))


def encode_snmp_trap(
    *,
    version: int = 1,
    community: str = "public",
    trap_oid: str = "1.3.6.1.4.1.8072.2.3.0.1",
    uptime: int = 12345,
    varbinds: dict[str, str] | None = None,
    agent_addr: str = "10.0.0.1",
    generic: int = 6,
    specific: int = 7,
) -> bytes:
    """Test-side trap builder (v1 when version=0, v2c when version=1)."""
    def vb(oid: str, val: bytes) -> bytes:
        return _ber_wrap(0x30, _ber_enc_oid(oid) + val)

    user_vbs = b"".join(
        vb(oid, _ber_wrap(0x04, v.encode())) for oid, v in (varbinds or {}).items()
    )
    if version == 0:
        pdu = _ber_wrap(
            0xA4,
            _ber_enc_oid(trap_oid)
            + _ber_wrap(0x40, bytes(int(x) for x in agent_addr.split(".")))
            + _ber_enc_int(0x02, generic)
            + _ber_enc_int(0x02, specific)
            + _ber_wrap(0x43, uptime.to_bytes(max(1, (uptime.bit_length() + 7) // 8), "big"))
            + _ber_wrap(0x30, user_vbs),
        )
    else:
        std = (
            vb("1.3.6.1.2.1.1.3.0",
               _ber_wrap(0x43, uptime.to_bytes(max(1, (uptime.bit_length() + 7) // 8), "big")))
            + vb("1.3.6.1.6.3.1.1.4.1.0", _ber_enc_oid(trap_oid))
        )
        pdu = _ber_wrap(
            0xA7,
            _ber_enc_int(0x02, 42) + _ber_enc_int(0x02, 0) + _ber_enc_int(0x02, 0)
            + _ber_wrap(0x30, std + user_vbs),
        )
    return _ber_wrap(
        0x30,
        _ber_enc_int(0x02, version) + _ber_wrap(0x04, community.encode()) + pdu,
    )
