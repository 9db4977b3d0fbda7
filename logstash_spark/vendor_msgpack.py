"""Vendored pure-Python MessagePack reader/writer (stdlib `struct` only).

Written from the public MessagePack format specification
(https://github.com/msgpack/msgpack/blob/master/spec.md) so the msgpack and
fluent codecs (reference manifest rakelib/default_plugins.rb:12,19) work in
runtimes without the C `msgpack` package — the same vendoring approach as
the EDN reader in operators/codecs.py. It is the codecs' only msgpack
engine and the round-trip oracle's.

Scale note: both functions are called inside Arrow-batched `mapInPandas`
kernels — per-row Python is unavoidable for a variable-length binary format
(same as any codec library), but rows arrive in Arrow batches and the hot
path carries bytes, never Python object columns, through the plan.
"""

from __future__ import annotations

import struct
from typing import Any

__all__ = ["packb", "unpackb", "MsgpackError"]


class MsgpackError(ValueError):
    pass


# ---------------------------------------------------------------------------
# unpack
# ---------------------------------------------------------------------------


def unpackb(buf: bytes) -> Any:
    """Decode one MessagePack object; trailing bytes are an error (the
    codec frames one event per row, like json_lines)."""
    obj, pos = _unpack(memoryview(buf), 0)
    if pos != len(buf):
        raise MsgpackError(f"{len(buf) - pos} trailing bytes after object")
    return obj


def _take(buf: memoryview, pos: int, n: int) -> tuple[memoryview, int]:
    if pos + n > len(buf):
        raise MsgpackError("truncated msgpack data")
    return buf[pos : pos + n], pos + n


def _unpack(buf: memoryview, pos: int) -> tuple[Any, int]:
    if pos >= len(buf):
        raise MsgpackError("truncated msgpack data")
    b = buf[pos]
    pos += 1
    # fix types (spec: first-byte ranges)
    if b <= 0x7F:  # positive fixint
        return b, pos
    if b >= 0xE0:  # negative fixint
        return b - 0x100, pos
    if 0x80 <= b <= 0x8F:  # fixmap
        return _unpack_map(buf, pos, b & 0x0F)
    if 0x90 <= b <= 0x9F:  # fixarray
        return _unpack_array(buf, pos, b & 0x0F)
    if 0xA0 <= b <= 0xBF:  # fixstr
        raw, pos = _take(buf, pos, b & 0x1F)
        return bytes(raw).decode("utf-8", "replace"), pos
    if b == 0xC0:
        return None, pos
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        return True, pos
    if b in (0xC4, 0xC5, 0xC6):  # bin 8/16/32
        n, pos = _unpack_len(buf, pos, 1 << (b - 0xC4))
        raw, pos = _take(buf, pos, n)
        return bytes(raw), pos
    if b in (0xC7, 0xC8, 0xC9):  # ext 8/16/32 -> (type, payload)
        n, pos = _unpack_len(buf, pos, 1 << (b - 0xC7))
        t, pos = _take(buf, pos, 1)
        raw, pos = _take(buf, pos, n)
        return (struct.unpack(">b", t)[0], bytes(raw)), pos
    if b == 0xCA:
        raw, pos = _take(buf, pos, 4)
        return struct.unpack(">f", raw)[0], pos
    if b == 0xCB:
        raw, pos = _take(buf, pos, 8)
        return struct.unpack(">d", raw)[0], pos
    if b in (0xCC, 0xCD, 0xCE, 0xCF):  # uint 8/16/32/64
        n = 1 << (b - 0xCC)
        raw, pos = _take(buf, pos, n)
        return int.from_bytes(raw, "big", signed=False), pos
    if b in (0xD0, 0xD1, 0xD2, 0xD3):  # int 8/16/32/64
        n = 1 << (b - 0xD0)
        raw, pos = _take(buf, pos, n)
        return int.from_bytes(raw, "big", signed=True), pos
    if b in (0xD4, 0xD5, 0xD6, 0xD7, 0xD8):  # fixext 1/2/4/8/16
        n = 1 << (b - 0xD4)
        t, pos = _take(buf, pos, 1)
        raw, pos = _take(buf, pos, n)
        return (struct.unpack(">b", t)[0], bytes(raw)), pos
    if b in (0xD9, 0xDA, 0xDB):  # str 8/16/32
        n, pos = _unpack_len(buf, pos, 1 << (b - 0xD9))
        raw, pos = _take(buf, pos, n)
        return bytes(raw).decode("utf-8", "replace"), pos
    if b in (0xDC, 0xDD):  # array 16/32
        n, pos = _unpack_len(buf, pos, 2 << (b - 0xDC))
        return _unpack_array(buf, pos, n)
    if b in (0xDE, 0xDF):  # map 16/32
        n, pos = _unpack_len(buf, pos, 2 << (b - 0xDE))
        return _unpack_map(buf, pos, n)
    raise MsgpackError(f"reserved/unknown first byte 0x{b:02x}")


def _unpack_len(buf: memoryview, pos: int, width: int) -> tuple[int, int]:
    raw, pos = _take(buf, pos, width)
    return int.from_bytes(raw, "big", signed=False), pos


def _unpack_array(buf: memoryview, pos: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, pos = _unpack(buf, pos)
        out.append(v)
    return out, pos


def _unpack_map(buf: memoryview, pos: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, pos = _unpack(buf, pos)
        v, pos = _unpack(buf, pos)
        if isinstance(k, (dict, list)):
            raise MsgpackError("unhashable map key")
        out[k] = v
    return out, pos


# ---------------------------------------------------------------------------
# pack
# ---------------------------------------------------------------------------


def packb(obj: Any) -> bytes:
    out = bytearray()
    _pack(obj, out)
    return bytes(out)


def _pack(obj: Any, out: bytearray) -> None:
    if obj is None:
        out.append(0xC0)
    elif obj is True:
        out.append(0xC3)
    elif obj is False:
        out.append(0xC2)
    elif isinstance(obj, int):
        _pack_int(obj, out)
    elif isinstance(obj, float):
        out.append(0xCB)
        out += struct.pack(">d", obj)
    elif isinstance(obj, str):
        raw = obj.encode("utf-8")
        n = len(raw)
        if n <= 0x1F:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += bytes((0xD9, n))
        elif n <= 0xFFFF:
            out.append(0xDA)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xDB)
            out += n.to_bytes(4, "big")
        out += raw
    elif isinstance(obj, (bytes, bytearray, memoryview)):
        raw = bytes(obj)
        n = len(raw)
        if n <= 0xFF:
            out += bytes((0xC4, n))
        elif n <= 0xFFFF:
            out.append(0xC5)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xC6)
            out += n.to_bytes(4, "big")
        out += raw
    elif isinstance(obj, (list, tuple)):
        n = len(obj)
        if n <= 0x0F:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out.append(0xDC)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xDD)
            out += n.to_bytes(4, "big")
        for v in obj:
            _pack(v, out)
    elif isinstance(obj, dict):
        n = len(obj)
        if n <= 0x0F:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out.append(0xDE)
            out += n.to_bytes(2, "big")
        else:
            out.append(0xDF)
            out += n.to_bytes(4, "big")
        for k, v in obj.items():
            _pack(k, out)
            _pack(v, out)
    else:
        raise MsgpackError(f"cannot pack {type(obj).__name__}")


def _pack_int(v: int, out: bytearray) -> None:
    if 0 <= v <= 0x7F:
        out.append(v)
    elif -32 <= v < 0:
        out.append(v & 0xFF)
    elif 0 <= v <= 0xFF:
        out += bytes((0xCC, v))
    elif 0 <= v <= 0xFFFF:
        out.append(0xCD)
        out += v.to_bytes(2, "big")
    elif 0 <= v <= 0xFFFFFFFF:
        out.append(0xCE)
        out += v.to_bytes(4, "big")
    elif 0 <= v <= 0xFFFFFFFFFFFFFFFF:
        out.append(0xCF)
        out += v.to_bytes(8, "big")
    elif -0x80 <= v < 0:
        out += bytes((0xD0, v & 0xFF))
    elif -0x8000 <= v < 0:
        out.append(0xD1)
        out += v.to_bytes(2, "big", signed=True)
    elif -0x80000000 <= v < 0:
        out.append(0xD2)
        out += v.to_bytes(4, "big", signed=True)
    elif -0x8000000000000000 <= v < 0:
        out.append(0xD3)
        out += v.to_bytes(8, "big", signed=True)
    else:
        raise MsgpackError("integer out of 64-bit range")
