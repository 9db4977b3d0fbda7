"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Training-data-pipeline extension. The container has no codec libraries
(PIL/ffmpeg/librosa), so the decoders here are written fresh from the
public container specs on stdlib alone: P6 PPM, uncompressed BMP, PNG
(zlib inflate + filter reconstruction, all 8-bit color types), RIFF/WAV
PCM, and YUV4MPEG2 — each fail-closed on hostile bytes. JPEG (entropy
coding) stays out of scope; everything Spark-side is real and tested:
schemas, Arrow batch shapes, mapInPandas plumbing, partition sizing.

Design notes for 100 TB of media:
- media bytes ride in a `binary` column next to typed metadata
  (struct<mime,width,height,duration_ms,...>) so metadata predicates prune
  at the parquet/Iceberg scan WITHOUT touching the blob column (columnar
  formats only read projected columns — the whole point of this layout).
- decode/resize/frame-sample run as `mapInPandas` (Arrow batches of bytes
  -> numpy) with `spark.sql.files.maxPartitionBytes` sized so one batch of
  decoded frames fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def synthetic_media(spark, n: int = 100) -> DataFrame:
    """Deterministic media table: `bytes` = a REAL binary P6 PPM image
    (ASCII header + raster) whose raster bytes derive from md5(media_id) —
    decodable by the stdlib parser below AND regenerable in SQL (repeat/
    substr/md5 are DuckDB builtins), which is what makes the downstream
    decode stage value-oracle-able."""
    df = spark.range(n)
    i = F.col("id")
    w = (F.pmod(i, F.lit(4)) * 16 + 16).cast("int")
    h = (F.pmod(i, F.lit(3)) * 16 + 16).cast("int")
    # raster: md5 hex (32 chars) tiled to exactly w*h*3 bytes (max 64*48*3
    # = 9216 = 32*288); every byte lands in ASCII '0'-'9'/'a'-'f'
    raster = F.substring(F.repeat(F.md5(i.cast("string")), 288), F.lit(1), w * h * 3)
    payload = F.encode(
        F.concat(
            F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
            F.lit("\n255\n"), raster,
        ),
        "UTF-8",
    )
    meta = F.struct(
        F.lit("image/x-portable-pixmap").alias("mime"),
        w.alias("width"),
        h.alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return df.select(i.alias("media_id"), payload.alias("bytes"), meta.alias("meta"))


def synthetic_media_png(spark, n: int = 100) -> DataFrame:
    """Deterministic PNG media table: `bytes` = a REAL spec-valid PNG
    (zlib-deflated, CRC'd chunks) whose DECODED raster is the identical
    md5-tiling closed form as synthetic_media's PPM — so the existing SQL
    oracle replays the decoded content without DuckDB ever inflating a
    byte (the WAV/Y4M oracle trick applied to a compressed container).
    Scanline filters cycle (id + y) % 5, so decoding the table exercises
    ALL five reconstruction paths while the output raster stays fixed."""
    import hashlib

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                raster = (hexs * 288).encode()[: w * h * 3]
                buf = encode_png(w, h, raster,
                                 filters=[(i + y) % 5 for y in range(h)])
                rows.append((i, buf, ("image/png", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


def synthetic_media_jpeg(spark, n: int = 100) -> DataFrame:
    """Deterministic JPEG media table: `bytes` = a REAL baseline JFIF JPEG
    (functions/jpegcodec.py) of a SOLID printable-ASCII gray v = 32 +
    (id*37)%95 — the one raster class whose lossy round trip is PROVABLY
    bit-exact (constant block -> DC-only; |reconstruction error| <=
    q00/16 < 0.5 at quality 90, chroma identically 128), so the decoded
    content has a closed form DuckDB can replay: repeat(chr(v), w*h*3).
    Subsampling alternates 4:4:4 / 4:2:0 and restart intervals cycle
    0/2/7, so the ORACLE-GATED decode exercises the interleave, upsample
    and RSTn resync paths — not just the happy path."""
    from logstash_spark.functions.jpegcodec import encode_jpeg

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                v = 32 + (i * 37) % 95
                rgb = bytes([v]) * (w * h * 3)
                buf = encode_jpeg(
                    w, h, rgb, quality=90,
                    subsampling="420" if i % 2 else "444",
                    restart_interval=(0, 2, 7)[i % 3],
                )
                rows.append((i, buf, ("image/jpeg", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


def synthetic_media_jpeg_progressive(spark, n: int = 100) -> DataFrame:
    """Deterministic PROGRESSIVE JPEG media table (r5): same solid-gray
    provably-bit-exact raster class as synthetic_media_jpeg, but encoded
    SOF2 via encode_jpeg_progressive — the libjpeg-style multi-scan
    script (DC first/refine, spectral AC bands, successive-approximation
    refinement, EOBRUN runs), subsampling alternating 4:4:4 / 4:2:0 and
    restart intervals cycling 0/2/7 inside every scan. The oracle-gated
    decode therefore exercises the whole Annex G surface with full value
    verification, not just the happy path."""
    from logstash_spark.functions.jpegcodec import encode_jpeg_progressive

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                v = 32 + (i * 37) % 95
                rgb = bytes([v]) * (w * h * 3)
                buf = encode_jpeg_progressive(
                    w, h, rgb, quality=90,
                    subsampling="420" if i % 2 else "444",
                    restart_interval=(0, 2, 7)[i % 3],
                )
                rows.append((i, buf, ("image/jpeg", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


# hex digit k -> palette color (all components in 1..255: chr()-safe for
# the SQL oracle, no NUL bytes) — shared between the GIF table builder and
# the media_features_gif oracle generator in queries.py
GIF_PALETTE = {
    c: bytes([k * 15 + 8, (k * 37) % 200 + 28, 240 - k * 14])
    for k, c in enumerate("0123456789abcdef")
}


def synthetic_media_gif(spark, n: int = 100) -> DataFrame:
    """Deterministic GIF media table: `bytes` = a REAL GIF89a (LZW-
    compressed, functions/gifcodec.py) whose DECODED raster maps the same
    md5-tiling hex stream through a 16-color closed-form palette — GIF is
    LOSSLESS over palettes, so DuckDB replays the decoded content exactly
    (the PNG oracle trick on an LZW container). Every odd id interlaces,
    so the 4-pass de-interlace path sits under the hash gate too."""
    import hashlib

    from logstash_spark.functions.gifcodec import encode_gif

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                chars = (hexs * 288)[: w * h]
                rgb = b"".join(GIF_PALETTE[c] for c in chars)
                buf = encode_gif(w, h, rgb, interlace=bool(i % 2))
                rows.append((i, buf, ("image/gif", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


def synthetic_media_tiff(spark, n: int = 100) -> DataFrame:
    """Deterministic TIFF media table: `bytes` = a REAL baseline TIFF 6.0
    (functions/tiffcodec) whose DECODED raster is the identical md5-tiling
    closed form as the PPM/PNG tables — TIFF is lossless, so the same SQL
    oracle replays decoded content. The id axes route every decoder path
    under the hash gate: byte order II/MM (id%2), compression none /
    PackBits (id%3==0), single-strip vs 8-row strips (id%5==0)."""
    import hashlib

    from logstash_spark.functions.tiffcodec import encode_tiff

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                raster = (hexs * 288).encode()[: w * h * 3]
                buf = encode_tiff(
                    w, h, raster,
                    byte_order="II" if i % 2 == 0 else "MM",
                    compression=32773 if i % 3 == 0 else 1,
                    rows_per_strip=8 if i % 5 == 0 else None)
                rows.append((i, buf, ("image/tiff", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


def synthetic_media_ico(spark, n: int = 100) -> DataFrame:
    """Deterministic ICO favicon table: `bytes` = a REAL ICO whose
    LARGEST entry's decoded raster is the md5-tiling closed form — DIB
    payloads (bottom-up BGR rows + AND mask) on even ids, PNG payloads
    on odd, and every id % 3 == 0 icon carries a smaller decoy entry
    that the largest-entry rule must SKIP (the oracle only holds if
    selection is right)."""
    import hashlib

    from logstash_spark.functions.icocodec import encode_ico

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                raster = (hexs * 288).encode()[: w * h * 3]
                kind = "dib" if i % 2 == 0 else "png"
                entries = [(w, h, raster, kind)]
                if i % 3 == 0:
                    decoy = (hexs * 24).encode()[: 8 * 8 * 3]
                    entries.insert(0, (8, 8, decoy, "dib"))
                rows.append((i, encode_ico(entries),
                             ("image/x-icon", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


# ---------------------------------------------------------------------------
# stdlib image decode (no PIL needed): P6 PPM + uncompressed BMP headers
# + PNG (zlib) below
# ---------------------------------------------------------------------------


def parse_ppm(buf: bytes):
    """Parse a binary P6 PPM: returns (width, height, raster bytes) or None.
    Handles '#' comments and arbitrary whitespace per the netpbm spec —
    pure stdlib, same no-external-codec trick as decode_netflow5."""
    if buf is None or not buf.startswith(b"P6"):
        return None
    pos, toks = 2, []
    while len(toks) < 3 and pos < len(buf):
        c = buf[pos:pos + 1]
        if c == b"#":
            nl = buf.find(b"\n", pos)
            pos = len(buf) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(buf) and not buf[end:end + 1].isspace():
                end += 1
            toks.append(buf[pos:end])
            pos = end
    if len(toks) < 3:
        return None
    try:
        w, h, maxval = int(toks[0]), int(toks[1]), int(toks[2])
    except ValueError:
        return None
    if w <= 0 or h <= 0 or maxval <= 0 or maxval > 255:
        return None
    raster = buf[pos + 1 : pos + 1 + w * h * 3]  # single whitespace after maxval
    if len(raster) < w * h * 3:
        return None
    return w, h, raster


def parse_bmp(buf: bytes):
    """Parse an uncompressed 24bpp BMP (BITMAPINFOHEADER) via struct:
    returns (width, height, raster bytes) or None."""
    import struct

    if buf is None or len(buf) < 54 or buf[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, w, h = struct.unpack_from("<IiI", buf, 14)
    bpp, compression = struct.unpack_from("<HI", buf, 28)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        return None
    # width is SIGNED in the header: a corrupt negative width gave row=0,
    # raster=b'' and slipped past the length check (0 < 0 is False),
    # crashing the consumers downstream instead of dropping the row here
    if w <= 0 or h <= 0 or w > (1 << 20) or h > (1 << 20):
        return None
    row = ((w * 3 + 3) // 4) * 4  # rows padded to 4 bytes
    raster = buf[data_off : data_off + row * h]
    if len(raster) < row * h:
        return None
    # strip padding, un-flip bottom-up row order
    rows = [raster[r * row : r * row + w * 3] for r in range(h - 1, -1, -1)]
    return w, int(h), b"".join(rows)


# ---------------------------------------------------------------------------
# PNG (stdlib zlib only — no PIL): the real-web image format. Full spec
# subset: 8-bit depth, color types 0/2/3/4/6, filters 0-4, non-interlaced.
# Written fresh from the public PNG spec (RFC 2083 / W3C PNG); CRC-checked
# and size-bounded so hostile bytes drop instead of throwing or ballooning.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# bytes per pixel in the CODED stream, keyed by color type (8-bit depth)
_PNG_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_MAX_PIXELS = 1 << 26  # 64 Mpx decode ceiling: zip-bomb guard


def parse_png(buf: bytes):
    """Parse a PNG: returns (width, height, RGB raster bytes) or None.

    Strict/fail-closed (the netflow stance — corrupt media must DROP, not
    throw): signature, chunk CRCs, IHDR-first, 8-bit depth only, color
    types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
    interlace 0 only; the inflate is capped at the exact expected
    scanline-stream size so a deflate bomb can't balloon memory. Output is
    normalized to w*h*3 RGB (gray replicated, palette resolved, alpha
    dropped) — the same raster contract as parse_ppm/parse_bmp, so every
    downstream consumer (features/aHash/near-dup) inherits PNG for free.
    """
    import struct
    import zlib

    if buf is None or len(buf) < 8 + 25 or not buf.startswith(_PNG_SIG):
        return None
    pos = 8
    w = h = color = None
    plte = b""
    idat = []
    first = True
    while pos + 8 <= len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4:pos + 8]
        body = buf[pos + 8:pos + 8 + ln]
        if len(body) < ln or pos + 12 + ln > len(buf):
            return None  # truncated chunk
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + ln)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk
        if first:
            if ctype != b"IHDR" or ln != 13:
                return None
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body)
            if (depth != 8 or color not in _PNG_BPP or comp != 0
                    or filt != 0 or interlace != 0):
                return None  # 16-bit / Adam7 / unknown: out of subset
            if w == 0 or h == 0 or w * h > _PNG_MAX_PIXELS:
                return None
            first = False
        elif ctype == b"PLTE":
            if ln % 3 or ln > 768:
                return None
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        # ancillary chunks (tEXt/gAMA/...) skip — CRC already verified
        pos += 12 + ln
    if first or not idat:
        return None
    bpp = _PNG_BPP[color]
    stride = w * bpp
    expected = h * (1 + stride)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat), expected)
    except zlib.error:
        return None
    if len(raw) != expected or d.decompress(b"", 1):
        return None  # short stream, or bomb with MORE data than the header says
    # defilter (spec §6): per scanline, byte 0 = filter, then stride bytes
    prev = bytearray(stride)
    out = bytearray(h * stride)
    for y in range(h):
        base = y * (1 + stride)
        f = raw[base]
        line = bytearray(raw[base + 1:base + 1 + stride])
        if f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up — no intra-line dependency: one numpy add
            line = bytearray(
                (np.frombuffer(bytes(line), dtype=np.uint8)
                 + np.frombuffer(bytes(prev), dtype=np.uint8)).tobytes())
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif f != 0:
            return None  # unknown filter type
        out[y * stride:(y + 1) * stride] = line
        prev = line
    # normalize to RGB via one vectorized numpy pass (hot path: this runs
    # per image inside Arrow batches — no per-pixel Python)
    arr = np.frombuffer(bytes(out), dtype=np.uint8)
    if color == 2:
        rgb = arr
    elif color == 0:
        rgb = np.repeat(arr, 3)
    elif color == 4:
        rgb = np.repeat(arr.reshape(-1, 2)[:, 0], 3)
    elif color == 6:
        rgb = arr.reshape(-1, 4)[:, :3].reshape(-1)
    else:  # palette
        if not plte:
            return None
        pal = np.frombuffer(plte.ljust(768, b"\x00"), dtype=np.uint8).reshape(256, 3)
        rgb = pal[arr].reshape(-1)
    return int(w), int(h), rgb.tobytes()


def encode_png(width: int, height: int, raster: bytes, *, color_type: int = 2,
               filters=None) -> bytes:
    """Test-side builder: a REAL spec-valid PNG from packed 8-bit samples
    (len = w*h*bpp for the color type). ``filters`` picks the per-scanline
    filter (int or list, default 0) — the encoder applies the filter
    transform so parse_png must run the matching reconstruction, which is
    how the tests exercise all five filter paths against one known raster."""
    import struct
    import zlib

    bpp = _PNG_BPP[color_type]
    stride = width * bpp
    if len(raster) != height * stride:
        raise ValueError("raster length != h*w*bpp")
    if filters is None:
        filters = [0] * height
    elif isinstance(filters, int):
        filters = [filters] * height
    lines = bytearray()
    prev = bytes(stride)
    for y in range(height):
        cur = raster[y * stride:(y + 1) * stride]
        f = filters[y]
        lines.append(f)
        if f == 0:
            lines += cur
        elif f == 1:  # Sub
            lines += bytes((cur[i] - (cur[i - bpp] if i >= bpp else 0)) & 0xFF
                           for i in range(stride))
        elif f == 2:  # Up
            lines += bytes((cur[i] - prev[i]) & 0xFF for i in range(stride))
        elif f == 3:  # Average
            lines += bytes(
                (cur[i] - (((cur[i - bpp] if i >= bpp else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride))
        elif f == 4:  # Paeth
            out = bytearray()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((cur[i] - pr) & 0xFF)
            lines += out
        else:
            raise ValueError(f"unknown filter {f}")
        prev = cur

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    parts = [_PNG_SIG, chunk(b"IHDR", ihdr)]
    if color_type == 3:
        # identity-ish palette: index i -> (i, i, i) gray ramp
        parts.append(chunk(b"PLTE", bytes(v for i in range(256) for v in (i, i, i))))
    parts.append(chunk(b"IDAT", zlib.compress(bytes(lines), 6)))
    parts.append(chunk(b"IEND", b""))
    return b"".join(parts)


def decode_media(buf: bytes):
    """Sniff + decode: (fmt, width, height, raster) or None."""
    if buf is None:
        return None
    if buf.startswith(b"P6"):
        p = parse_ppm(buf)
        return ("ppm", *p) if p else None
    if buf.startswith(b"BM"):
        p = parse_bmp(buf)
        return ("bmp", *p) if p else None
    if buf.startswith(_PNG_SIG):
        p = parse_png(buf)
        return ("png", *p) if p else None
    if buf.startswith(b"\xff\xd8"):
        from logstash_spark.functions.jpegcodec import parse_jpeg

        p = parse_jpeg(buf)
        return ("jpeg", *p) if p else None
    if buf.startswith(b"GIF87a") or buf.startswith(b"GIF89a"):
        from logstash_spark.functions.gifcodec import parse_gif

        p = parse_gif(buf)
        return ("gif", *p) if p else None
    if buf.startswith(b"II*\x00") or buf.startswith(b"MM\x00*"):
        from logstash_spark.functions.tiffcodec import parse_tiff

        p = parse_tiff(buf)
        return ("tiff", *p) if p else None
    if buf.startswith(b"\x00\x00\x01\x00"):
        from logstash_spark.functions.icocodec import parse_ico

        p = parse_ico(buf)
        return ("ico", *p) if p else None
    return None


_DECODE_FEATURE_SCHEMA = (
    "media_id long, fmt string, width int, height int, n_pix int, "
    "px_mean double, px_entropy double"
)


def media_decode_features(df: DataFrame) -> DataFrame:
    """REAL decode -> feature extraction: parse the image header (stdlib
    PPM/BMP above), then compute raster statistics on the DECODED pixels —
    the production decode->embed stage with the codec swapped for a
    deterministic stdlib parser. Arrow batches in, one numpy pass per image;
    undecodable rows drop (the corrupt-media filter every crawl needs)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["bytes"]):
                d = decode_media(buf)
                if d is None:
                    continue
                fmt, w, h, raster = d
                arr = np.frombuffer(raster, dtype=np.uint8)
                n = len(arr)
                # entropy via H = log2(N) - (1/N) * SUM(cnt*log2(cnt)):
                # each cnt*log2(cnt) term is rounded to an INTEGER number
                # of 1e-4 bits before summing, so the sum is exact integer
                # arithmetic — an order-sensitive double fold here diverged
                # between numpy (pairwise) and the DuckDB oracle (left
                # fold) at ROUND boundaries (the _ewma_oracle lesson)
                cnt = np.bincount(arr, minlength=256).astype(np.float64)
                nz = cnt[cnt > 1]  # cnt==1 contributes log2(1)=0 exactly
                s_mb = int(np.floor(nz * np.log2(nz) * 10000.0 + 0.5).sum())
                ent = math.log2(n) - (s_mb / 10000.0) / n
                # no Python round() here: it's half-to-EVEN, while SQL ROUND
                # is half-away — rounding happens JVM-side below for parity
                # n_pix = PIXELS (w*h), not raster bytes (w*h*3 — a shared
                # 3x-off constant both engines previously agreed on)
                rows.append((mid, fmt, w, h, w * h, float(arr.mean()), ent))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "fmt", "width", "height", "n_pix",
                         "px_mean", "px_entropy"],
            )

    out = df.select("media_id", "bytes").mapInPandas(batches, _DECODE_FEATURE_SCHEMA)
    return out.withColumn("px_mean", F.round("px_mean", 4)).withColumn(
        "px_entropy", F.round("px_entropy", 4)
    )


def media_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per image: 64 pixels sampled on a
    fixed stride across the decoded raster, bit j set iff that pixel's
    RGB-sum beats the 64-sample mean. Near-identical images (re-encodes,
    tiny edits) land at small hamming distance — pairing then reuses the
    simhash machinery verbatim (prefix buckets + bit_count(xor), see
    dedup.simhash_near_dups).

    All-integer math (64*gsum > total, never a float mean) so the hash is
    bit-identical in any engine; DuckDB can regenerate the synthetic PPM
    raster AND this hash in SQL, giving the decode->hash path a full value
    oracle. Undecodable rows drop (corrupt-media filter).

    Scale: Arrow batches in, one numpy pass per image, no shuffle — the
    same map-stage cost profile as media_decode_features.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["bytes"]):
                d = decode_media(buf)
                if d is None:
                    continue
                _fmt, w, h, raster = d
                px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3)
                npix = w * h
                j = np.arange(64, dtype=np.int64)
                stride = npix // 64
                # intra-stride offset j%stride de-aliases the sample grid
                # from any periodic raster structure (tiled textures,
                # repeating banners) while staying inside bit j's stripe
                if stride > 0:
                    idx = j * stride + j % stride
                else:  # image smaller than 64 px: clamp
                    idx = np.minimum(j, npix - 1)
                gsum = px[idx].sum(axis=1).astype(np.int64)  # r+g+b, exact
                total = int(gsum.sum())
                bits = (64 * gsum) > total
                v = 0
                for j in range(64):
                    if bits[j]:
                        v |= 1 << j
                if v >= 1 << 63:  # two's-complement into BIGINT
                    v -= 1 << 64
                rows.append((mid, v))
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return df.select("media_id", "bytes").mapInPandas(batches, "media_id long, ahash long")


# ---------------------------------------------------------------------------
# audio: RIFF/WAV PCM — stdlib struct, the same no-external-codec stance as
# parse_ppm/parse_bmp. The synthetic waveform is a closed-form function of
# (media_id, sample index), so DuckDB regenerates the exact samples and the
# decode stage carries a FULL value oracle (all features are integer-exact:
# peak / sum of squares / negative-sample count — no float drift).
# ---------------------------------------------------------------------------


def encode_wav(samples, sample_rate: int, channels: int = 1) -> bytes:
    """Build a real RIFF/WAVE file: 16-bit little-endian PCM."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(buf: bytes):
    """Parse RIFF/WAVE (PCM 16-bit): returns (sample_rate, channels,
    samples list[int]) or None. Chunk-walks the container (fmt /data may
    be preceded by LIST etc.); truncated/odd chunks -> None."""
    import struct

    if buf is None or len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        (sz,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8:pos + 8 + sz]
        if len(body) < sz:
            return None
        if cid == b"fmt " and sz >= 16:
            fmt_tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt_tag != 1:  # PCM only
                return None
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks pad to even
    if rate is None or data is None or bits != 16 or not channels:
        return None
    n = len(data) // 2
    return rate, channels, list(struct.unpack(f"<{n}h", data[: n * 2]))


def synthetic_audio(spark, n: int = 200) -> DataFrame:
    """Deterministic audio table: `bytes` = a REAL mono 16-bit WAV whose
    k-th sample is ((media_id*37 + k*11) % 2048) - 1024 — decodable by
    parse_wav AND regenerable in closed form by the SQL oracle.
    sample_rate and length vary by id so duration math is exercised."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rate = 8000 + (i % 3) * 4000
                ns = 256 + (i % 5) * 64
                samples = [((i * 37 + k * 11) % 2048) - 1024 for k in range(ns)]
                rows.append((i, encode_wav(samples, rate),
                             ("audio/wav", rate, ns)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, sample_rate:int, n_samples:int>",
    )


def audio_features(df: DataFrame) -> DataFrame:
    """REAL WAV decode + integer-exact signal features: peak amplitude,
    energy (sum of squares), negative-sample count, duration. Arrow-batched
    map-only pass (one packet in, one row out, no shuffle — linear at any
    corpus size); unparseable bytes are skipped (netflow stance)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(
        "media_id bigint, sample_rate int, channels int, n_samples int, "
        "duration_ms int, peak_amp int, sum_sq bigint, n_neg int")

    def batches(it):
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["bytes"]):
                parsed = parse_wav(bytes(raw) if raw is not None else None)
                if parsed is None:
                    continue
                rate, channels, s = parsed
                n = len(s)
                rows.append((
                    int(mid), rate, channels, n,
                    n * 1000 // (rate * channels) if rate else 0,
                    max((abs(v) for v in s), default=0),
                    sum(v * v for v in s),
                    sum(1 for v in s if v < 0),
                ))
            yield pd.DataFrame(
                rows, columns=["media_id", "sample_rate", "channels",
                               "n_samples", "duration_ms", "peak_amp",
                               "sum_sq", "n_neg"])

    return df.select("media_id", "bytes").mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# video: YUV4MPEG2 (Y4M) — the real uncompressed interchange container
# (ffmpeg/mjpegtools), plain-text header + FRAME-delimited raw planes, so
# stdlib parsing is exact. Cmono = one 8-bit luma plane per frame. The
# synthetic corpus derives each frame's plane from md5(video_id, scene)
# tiled to w*h bytes — frames within a scene are byte-identical, scene
# changes are large luma jumps — so scene-cut detection carries a FULL
# DuckDB value oracle (same md5/repeat/substr replay as the PPM raster).
# ---------------------------------------------------------------------------


def encode_y4m(frames, width: int, height: int, fps=(25, 1)) -> bytes:
    """Build a real Y4M stream: mono (luma-only) 8-bit frames."""
    hdr = f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A0:0 Cmono\n"
    out = [hdr.encode("ascii")]
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame plane size mismatch")
        out.append(b"FRAME\n")
        out.append(bytes(f))
    return b"".join(out)


def parse_y4m(buf: bytes):
    """Parse a Y4M stream: returns (width, height, fps_num, fps_den,
    [frame planes]) or None. Mono/4:2:0 plane sizes both handled;
    truncated frames -> None (a half-written capture is corrupt)."""
    if buf is None or not buf.startswith(b"YUV4MPEG2"):
        return None
    nl = buf.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    fn, fd, cs = 25, 1, "420"
    for tok in buf[9:nl].split():
        t = tok.decode("ascii", errors="replace")
        try:
            if t[0] == "W":
                w = int(t[1:])
            elif t[0] == "H":
                h = int(t[1:])
            elif t[0] == "F":
                fn, fd = (int(x) for x in t[1:].split(":"))
            elif t[0] == "C":
                cs = t[1:]
        except (ValueError, IndexError):
            return None
    if not w or not h or w <= 0 or h <= 0:
        return None
    plane = w * h if cs.startswith("mono") else w * h * 3 // 2
    pos, frames = nl + 1, []
    while pos < len(buf):
        if buf[pos:pos + 5] != b"FRAME":
            return None
        fnl = buf.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + plane > len(buf):
            return None
        frames.append(buf[fnl + 1:fnl + 1 + plane])
        pos = fnl + 1 + plane
    return w, h, fn, fd, frames


_VIDEO_W, _VIDEO_H = 16, 16  # 256-byte luma plane = md5 hex tiled x8


def synthetic_video(spark, n: int = 200) -> DataFrame:
    """Deterministic video table: `bytes` = a REAL mono Y4M whose frame f
    belongs to scene f // 3 and whose luma plane is md5(f'{id}_{scene}')
    tiled to 256 bytes — identical frames within a scene, hard cuts
    between scenes; frame count varies 4..7 by id."""
    import hashlib

    import pandas as pd

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                nf = 4 + (i % 4)
                frames = []
                for f in range(nf):
                    seed = hashlib.md5(f"{i}_{f // 3}".encode()).hexdigest()
                    frames.append((seed * 8).encode("ascii"))
                rows.append((i, encode_y4m(frames, _VIDEO_W, _VIDEO_H),
                             ("video/x-yuv4mpeg", nf)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen, "media_id bigint, bytes binary, meta struct<mime:string, n_frames:int>")


def video_scene_cuts(df: DataFrame, *, min_diff: int = 1) -> DataFrame:
    """REAL video decode (Y4M) + temporal analysis: per frame, the exact
    integer luma sum and the sum of absolute per-pixel LUMA diffs against
    the previous frame; a cut is frame 0 or any inter-frame diff >=
    ``min_diff`` (default 1 = any change; real footage with sensor noise
    should raise it toward a fraction of w*h*255). Only the Y plane
    participates — a 4:2:0 stream's U/V planes are sliced off so chroma
    motion never inflates the luma statistics. Keyframe = frame 0 or a
    cut — the production frame-sampling rule (sample at scene changes,
    not on a fixed clock). Arrow-batched map-only pass; each video's
    frames stay inside one task (a video is one row), so the temporal
    diff needs NO window shuffle — at corpus scale this is the decisive
    layout choice: frame rows with a lag() window would shuffle every
    decoded plane."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(
        "media_id bigint, frame_idx int, luma_sum bigint, diff_prev bigint, "
        "is_cut boolean")

    def batches(it):
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["bytes"]):
                p = parse_y4m(bytes(raw) if raw is not None else None)
                if p is None:
                    continue
                w, h, _, _, frames = p
                npix = w * h  # Y plane leads each frame buffer (mono or 420)
                prev = None
                for idx, fr in enumerate(frames):
                    y = fr[:npix]
                    luma = sum(y)
                    diff = (sum(abs(a - b) for a, b in zip(y, prev))
                            if prev is not None else 0)
                    rows.append((int(mid), idx, luma, diff,
                                 idx == 0 or diff >= min_diff))
                    prev = y
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "luma_sum",
                               "diff_prev", "is_cut"])

    return df.select("media_id", "bytes").mapInPandas(batches, out_schema)


def video_keyframe_ahash(df: DataFrame, *, min_diff: int = 1) -> DataFrame:
    """Cross-video temporal dedup key: perceptual aHash of each KEYFRAME
    (frame 0 + scene cuts, same rule as video_scene_cuts). Two videos
    sharing footage collide on keyframe hashes at small hamming distance
    — pairing then reuses the simhash machinery (prefix buckets +
    bit_count(xor)), exactly like media_ahash for stills. All-integer
    math (64*y > total) over the luma plane, same fixed-stride 64-sample
    grid as media_ahash; bit-identical in any engine, so the decode ->
    keyframe-select -> hash path carries a full DuckDB value oracle.
    Map-only Arrow pass, no shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(
        "media_id bigint, frame_idx int, ahash bigint")

    def batches(it):
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["bytes"]):
                p = parse_y4m(bytes(raw) if raw is not None else None)
                if p is None:
                    continue
                w, h, _, _, frames = p
                npix = w * h
                stride = npix // 64
                if stride == 0:
                    continue  # sub-64-pixel frames carry no 64-bit hash
                prev = None
                for idx, fr in enumerate(frames):
                    y = fr[:npix]
                    diff = (sum(abs(a - b) for a, b in zip(y, prev))
                            if prev is not None else 0)
                    if idx == 0 or diff >= min_diff:
                        samples = [y[j * stride + j % stride] for j in range(64)]
                        total = sum(samples)
                        u = 0
                        for j, s in enumerate(samples):
                            if 64 * s > total:
                                u |= 1 << j
                        if u >= 1 << 63:
                            u -= 1 << 64
                        rows.append((int(mid), idx, u))
                    prev = y
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "ahash"])

    return df.select("media_id", "bytes").mapInPandas(batches, out_schema)


def synthetic_video_shared(spark, n: int = 200, *, share_mod: int = 50) -> DataFrame:
    """Shared-footage variant of synthetic_video for cross-video dedup:
    the scene seed is (media_id % share_mod), so videos i, i+share_mod, …
    carry byte-identical scenes (re-uploads/mirrors of the same footage).
    Each 256-byte plane concatenates 8 DISTINCT md5 digests — full-entropy
    keyframe hashes (the x8-tiled plane of synthetic_video repeats every
    32 bytes, which folds the aHash sample grid onto 8 effective bits;
    fine for the hash oracle, degenerate as a dedup key)."""
    import hashlib

    import pandas as pd

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                nf = 4 + (i % 4)
                seed = i % share_mod
                frames = []
                for f in range(nf):
                    s = f // 3
                    plane = "".join(
                        hashlib.md5(f"{seed}_{s}_{b}".encode()).hexdigest()
                        for b in range(8)
                    ).encode("ascii")
                    frames.append(plane)
                rows.append((i, encode_y4m(frames, _VIDEO_W, _VIDEO_H),
                             ("video/x-yuv4mpeg", nf)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen, "media_id bigint, bytes binary, meta struct<mime:string, n_frames:int>")


def video_near_dups(
    df: DataFrame, *, max_hamming: int = 0, bucket_cap: int = 2048,
    min_diff: int = 1,
) -> DataFrame:
    """Cross-video shared-footage pairs: keyframe aHashes bucket on their
    16-bit prefix and pair within buckets at bit_count(xor) <= max_hamming,
    then aggregate to the video-pair level (n_shared keyframe matches +
    min hamming). The decoded planes never leave their task — only
    (media_id, frame_idx, 64-bit hash) rows enter the shuffle, and hot
    prefix buckets are capped before the self-join (the simhash hot-bucket
    treatment; intros/logo cards concentrate on a few hashes at corpus
    scale and go quadratic otherwise)."""
    from logstash_spark.functions.dedup import cap_hot_buckets

    h = video_keyframe_ahash(df, min_diff=min_diff)
    h = h.withColumn("prefix", F.shiftrightunsigned(F.col("ahash"), 48))
    h = cap_hot_buckets(h, ["prefix"], bucket_cap)
    a = h.select(F.col("media_id").alias("id_a"), F.col("ahash").alias("ha"), "prefix")
    b = h.select(F.col("media_id").alias("id_b"), F.col("ahash").alias("hb"), "prefix")
    pairs = (
        a.join(b, "prefix")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared"),
        F.min("hamming").alias("min_hamming"),
    )


def synthetic_audio_shared(spark, n: int = 200, *, share_mod: int = 50) -> DataFrame:
    """Shared-recording variant of synthetic_audio for cross-audio dedup:
    sample content derives from seed = media_id % share_mod (videos' 
    shared-footage analog — re-encodes/mirrors of the same recording at
    DIFFERENT sample rates), so i, i+share_mod, … fingerprint equal.
    Samples are the ascii codes of 16 chained md5 digests (512 values),
    truncated to the seed-determined length — SQL-replayable."""
    import hashlib

    import pandas as pd

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                seed = i % share_mod
                rate = 8000 + (i % 3) * 4000
                ns = 256 + (seed % 5) * 64
                chars = "".join(
                    hashlib.md5(f"{seed}_{b}".encode()).hexdigest()
                    for b in range(16))
                samples = [ord(c) for c in chars[:ns]]
                rows.append((i, encode_wav(samples, rate),
                             ("audio/wav", rate, ns)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, sample_rate:int, n_samples:int>")


def audio_fingerprint(df: DataFrame, *, windows: int = 65) -> DataFrame:
    """64-bit energy-delta audio fingerprint (the chromaprint IDEA with a
    deterministic integer feature): split the PCM stream into ``windows``
    equal windows, bit j = energy(window j+1) > energy(window j), where
    energy is the TRUE sum of squared samples — silence-heavy or
    DC-shifted windows therefore track power, not mean amplitude. Robust
    to sample-rate relabeling and amplitude-preserving container changes;
    all-integer math so the hash is engine-exact. Map-only Arrow pass."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T._parse_datatype_string(
        "media_id bigint, fp bigint, n_samples int")

    def batches(it):
        for pdf in it:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["bytes"]):
                p = parse_wav(bytes(raw) if raw is not None else None)
                if p is None:
                    continue
                _rate, _ch, s = p
                n = len(s)
                win = n // windows
                if win == 0:
                    continue
                en = [sum(v * v for v in s[w * win:(w + 1) * win])
                      for w in range(windows)]
                u = 0
                for j in range(windows - 1):
                    if en[j + 1] > en[j]:
                        u |= 1 << j
                if u >= 1 << 63:
                    u -= 1 << 64
                rows.append((int(mid), u, n))
            yield pd.DataFrame(rows, columns=["media_id", "fp", "n_samples"])

    return df.select("media_id", "bytes").mapInPandas(batches, out_schema)


def audio_near_dups(
    df: DataFrame, *, max_hamming: int = 0, bucket_cap: int = 2048,
) -> DataFrame:
    """Cross-audio duplicate pairs by fingerprint: prefix-bucketed
    self-join at bit_count(xor) <= max_hamming — the video_near_dups
    recipe with one hash per recording. Only (id, fp) rows shuffle."""
    from logstash_spark.functions.dedup import cap_hot_buckets

    h = audio_fingerprint(df)
    h = h.withColumn("prefix", F.shiftrightunsigned(F.col("fp"), 48))
    h = cap_hot_buckets(h, ["prefix"], bucket_cap)
    a = h.select(F.col("media_id").alias("id_a"), F.col("fp").alias("fa"), "prefix")
    b = h.select(F.col("media_id").alias("id_b"), F.col("fp").alias("fb"), "prefix")
    return (
        a.join(b, "prefix")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# MIME sniffing (WHATWG mimesniff algorithm, pattern-table subset) — a crawl
# cannot trust Content-Type headers; payload magic bytes decide what a
# capture actually is before it is routed to text extraction vs media decode.


def _hex_ci(s: str) -> str:
    """ASCII string -> hex regex fragment matching it case-insensitively
    (letters admit both cases; everything else matches its exact byte)."""
    parts = []
    for ch in s:
        if ch.isalpha():
            parts.append(
                "(?:%02X|%02X)" % (ord(ch.upper()), ord(ch.lower()))
            )
        else:
            parts.append("%02X" % ord(ch))
    return "".join(parts)


# (hex-prefix pattern, mime) in match-priority order; patterns run over the
# UPPERCASE hex of the payload head so everything stays a JVM rlike
_MAGIC = [
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FF", "image/jpeg"),
    (_hex_ci("GIF87a"), "image/gif"),
    (_hex_ci("GIF89a"), "image/gif"),
    ("424D", "image/bmp"),
    ("52494646[0-9A-F]{8}57415645", "audio/wav"),      # RIFF....WAVE
    ("52494646[0-9A-F]{8}57454250", "image/webp"),     # RIFF....WEBP
    ("52494646[0-9A-F]{8}41564920", "video/x-msvideo"),  # RIFF....AVI
    ("1F8B", "application/gzip"),
    ("504B0304", "application/zip"),
    ("255044462D", "application/pdf"),                 # %PDF-
    ("4F676753", "application/ogg"),                   # OggS
    ("664C6143", "audio/flac"),                        # fLaC
    (_hex_ci("YUV4MPEG2"), "video/x-y4m"),
    ("5036(?:09|0A|0D|20)", "image/x-portable-pixmap"),  # P6 + whitespace
]

# whitespace bytes the HTML scan may skip (tab, LF, FF, CR, space)
_WS = "(?:09|0A|0C|0D|20)*"
_HTML_TAGS = [
    "<!DOCTYPE HTML", "<HTML", "<HEAD", "<SCRIPT", "<IFRAME", "<H1",
    "<DIV", "<FONT", "<TABLE", "<A", "<STYLE", "<TITLE", "<B", "<BODY",
    "<BR", "<P", "<!--",
]
# tag must be terminated by space or '>' (0x20 / 0x3E) per the spec
_HTML_PAT = (
    "^" + _WS + "(?:" + "|".join(_hex_ci(t) for t in _HTML_TAGS) + ")(?:20|3E)"
)

# WHATWG "binary data byte": 0x00-0x08, 0x0B, 0x0E-0x1A, 0x1C-0x1F — any hit
# in the head means not text; the (..)* prefix keeps byte alignment even
_BINARY_BYTE_PAT = "^(?:[0-9A-F]{2})*?(?:0[0-8B]|0[EF]|1[0-9A]|1[C-F])"


def sniff_mime(
    df: DataFrame,
    *,
    bin_col: str = "payload",
    head_bytes: int = 64,
    target: str = "mime",
) -> DataFrame:
    """Content-type sniffing from payload magic bytes (the WHATWG
    mimesniff pattern table, web-format subset): PNG/JPEG/GIF/BMP,
    RIFF-wrapped WAV/WebP/AVI, gzip/zip/pdf/ogg/flac, the repo's own
    PPM/Y4M synthetics, case-insensitive HTML tag scan (leading
    whitespace skipped, tag must close with space or '>'), UTF-8 BOM,
    then the binary-data-byte test decides text/plain vs
    application/octet-stream.

    Everything runs on the UPPERCASE HEX of the first ``head_bytes``
    bytes — one substring + one hex per row, then a JVM rlike cascade;
    no Python, no shuffle, order-deterministic (first matching pattern
    wins, exactly the spec's table order)."""
    hx = F.hex(F.substring(F.col(bin_col).cast("binary"), 1, head_bytes))
    mime = None
    for pat, m in _MAGIC:
        cond = hx.rlike("^" + pat)
        mime = F.when(cond, m) if mime is None else mime.when(cond, m)
    mime = mime.when(hx.rlike(_HTML_PAT), "text/html")
    mime = mime.when(hx.startswith("EFBBBF"), "text/plain")  # UTF-8 BOM
    mime = mime.when(~hx.rlike(_BINARY_BYTE_PAT), "text/plain")
    mime = mime.otherwise("application/octet-stream")
    return df.withColumn(
        target,
        F.when(
            F.col(bin_col).isNull() | (F.length(F.col(bin_col)) == 0),
            F.lit("application/octet-stream"),
        ).otherwise(mime),
    )


# ---------------------------------------------------------------------------
# PDF text extraction (functions/pdfcodec.py) — the second-biggest
# Common-Crawl document MIME after HTML; reference analog: the codec
# surface (default_plugins.rb:8-24) extended the way html_text_extract
# extends the filter surface.
# ---------------------------------------------------------------------------


def synthetic_docs_pdf(spark, n: int = 200) -> DataFrame:
    """Deterministic PDF document table: `bytes` = a REAL PDF 1.4
    (functions/pdfcodec.encode_pdf) whose EXTRACTED text has an md5-tiling
    closed form DuckDB replays in SQL (text extraction is lossless, the
    PNG/GIF oracle stance on a document container).

    Page p of doc id carries two 16-hex-char lines of
    md5(str(id*7 + p)); n_pages = id % 3 + 1. The id % 5 variant axis
    routes every extractor path under the hash gate:
      0 -> TJ arrays split mid-line with a -250 kern (word-space render)
      1 -> FlateDecode-compressed content streams
      2 -> <hex> string syntax
      3 -> UTF-16BE strings with BOM
      4 -> compressed + page objects serialized in REVERSE file order
           (correct output REQUIRES the /Kids tree walk)
    """
    import hashlib

    from logstash_spark.functions.pdfcodec import encode_pdf

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                npg = i % 3 + 1
                variant = i % 5
                pages = []
                for p in range(npg):
                    hx = hashlib.md5(str(i * 7 + p).encode()).hexdigest()
                    pages.append(hx[:16] + "\n" + hx[16:])
                kw = [
                    dict(tj_split=True),
                    dict(compress=True),
                    dict(hex_strings=True),
                    dict(utf16=True),
                    dict(compress=True, reverse_objects=True),
                ][variant]
                rows.append((i, encode_pdf(pages, **kw), "application/pdf"))
            yield pd.DataFrame(rows, columns=["doc_id", "bytes", "mime"])

    return spark.range(n).mapInPandas(
        gen, "doc_id bigint, bytes binary, mime string")


def pdf_extract_text(df: DataFrame) -> DataFrame:
    """REAL document decode: bounded PDF text extraction (pdfcodec
    module docstring for the fail-closed envelope) over a binary column.
    Arrow batches in, pure per-document Python on stdlib zlib — map-only,
    no shuffle, linear in partitions. Undecodable/encrypted rows survive
    with NULL text (the corrupt-document audit needs the rows, unlike the
    corrupt-media filter which drops them)."""
    from logstash_spark.functions.pdfcodec import extract_pdf_text

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["bytes"]):
                r = extract_pdf_text(bytes(buf)) if buf is not None else None
                if r is None:
                    rows.append((int(did), None, None, None))
                else:
                    text, npg = r
                    rows.append((int(did), npg, len(text), text))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_pages", "n_chars", "text"])

    return df.select("doc_id", "bytes").mapInPandas(
        batches, "doc_id bigint, n_pages int, n_chars int, text string")


# ---------------------------------------------------------------------------
# EXIF metadata (functions/exifcodec.py): extraction audit + PII geo-strip.
# Web-crawled JPEGs carry GPS coordinates in APP1; a corpus pass must
# surface them as typed columns and scrub them without touching pixels.
# ---------------------------------------------------------------------------


def synthetic_media_exif(spark, n: int = 200) -> DataFrame:
    """Deterministic EXIF-bearing JPEG table over the solid-gray
    provably-bit-exact raster class (synthetic_media_jpeg). Closed-form
    metadata per id — every field the extractor surfaces is SQL-replayable:
    id % 7 == 0 rows carry NO exif (the audit needs absent rows),
    id % 3 == 0 exif rows carry no GPS block, byte order alternates
    II/MM with id % 2, and GPS D/M/S rationals use denominator 100 so
    microdegrees are exact integers in both engines."""
    from logstash_spark.functions.exifcodec import build_exif_app1, insert_exif
    from logstash_spark.functions.jpegcodec import encode_jpeg

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w = (i % 4) * 16 + 16
                h = (i % 3) * 16 + 16
                v = 32 + (i * 37) % 95
                jpeg = encode_jpeg(w, h, bytes([v]) * (w * h * 3), quality=90)
                if i % 7:
                    gps = None
                    if i % 3:
                        gps = (
                            "N" if i % 2 == 0 else "S",
                            [(i % 90, 1), ((i * 7) % 60, 1),
                             ((i * 13) % 6000, 100)],
                            "E" if i % 5 < 3 else "W",
                            [(i % 180, 1), ((i * 11) % 60, 1),
                             ((i * 17) % 6000, 100)],
                        )
                    fields = dict(
                        make=["Canon", "NIKON", "Apple", "samsung"][i % 4],
                        model="M-%d" % (i % 9),
                        orientation=i % 8 + 1,
                        datetime="%04d:%02d:%02d 10:%02d:%02d" % (
                            2019 + i % 6, i % 12 + 1, i % 28 + 1,
                            i % 60, (i * 3) % 60),
                        datetime_original="%04d:%02d:%02d 09:%02d:%02d" % (
                            2019 + i % 6, i % 12 + 1, i % 28 + 1,
                            i % 60, (i * 3) % 60),
                        iso=100 * (i % 16 + 1),
                        px_x=w, px_y=h, gps=gps,
                    )
                    jpeg = insert_exif(
                        jpeg,
                        build_exif_app1(
                            fields, byte_order="II" if i % 2 == 0 else "MM"))
                rows.append((i, jpeg, ("image/jpeg", w, h, None)))
            yield pd.DataFrame(rows, columns=["media_id", "bytes", "meta"])

    return spark.range(n).mapInPandas(
        gen,
        "media_id bigint, bytes binary, "
        "meta struct<mime:string, width:int, height:int, duration_ms:int>")


_EXIF_SCHEMA = (
    "media_id bigint, byte_order string, make string, model string, "
    "orientation int, dt string, dt_original string, iso int, "
    "px_x int, px_y int, gps_lat_micro bigint, gps_lon_micro bigint")


def exif_extract(df: DataFrame) -> DataFrame:
    """EXIF audit columns per image (NULL row tail where no EXIF exists —
    absence is a signal, so rows are kept). Arrow batches, map-only."""
    from logstash_spark.functions.exifcodec import parse_exif

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["bytes"]):
                p = parse_exif(bytes(buf)) if buf is not None else None
                if p is None:
                    rows.append((int(mid),) + (None,) * 11)
                else:
                    rows.append((
                        int(mid), p["byte_order"], p["make"], p["model"],
                        p["orientation"], p["datetime"],
                        p["datetime_original"], p["iso"], p["px_x"],
                        p["px_y"], p["gps_lat_micro"], p["gps_lon_micro"]))
            yield pd.DataFrame(rows, columns=[
                "media_id", "byte_order", "make", "model", "orientation",
                "dt", "dt_original", "iso", "px_x", "px_y",
                "gps_lat_micro", "gps_lon_micro"])

    return df.select("media_id", "bytes").mapInPandas(batches, _EXIF_SCHEMA)


def exif_strip_audit(df: DataFrame) -> DataFrame:
    """The privacy scrub, audited: strip APP1 Exif, re-parse (must find
    nothing), and decode the scrubbed image — pixels must be untouched.
    Output: per-image before/after EXIF presence + decoded raster stats."""
    from logstash_spark.functions.exifcodec import parse_exif, strip_exif

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["bytes"]):
                raw = bytes(buf)
                had = parse_exif(raw) is not None
                stripped = strip_exif(raw)
                after = parse_exif(stripped) is not None
                d = decode_media(stripped)
                if d is None:
                    rows.append((int(mid), had, after, None, None))
                    continue
                _fmt, w, h, raster = d
                arr = np.frombuffer(raster, dtype=np.uint8)
                rows.append((int(mid), had, after, w * h, float(arr.mean())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "had_exif", "exif_after", "n_pix", "px_mean"])

    out = df.select("media_id", "bytes").mapInPandas(
        batches,
        "media_id bigint, had_exif boolean, exif_after boolean, "
        "n_pix int, px_mean double")
    return out.withColumn("px_mean", F.round("px_mean", 4))


# ---------------------------------------------------------------------------
# Office document text extraction (functions/officecodec.py): .docx/.odt —
# the ZIP-container document formats a web corpus carries alongside PDF.
# ---------------------------------------------------------------------------


def synthetic_docs_office(spark, n: int = 200) -> DataFrame:
    """Deterministic mixed docx/odt table with closed-form extractable
    text: even ids are .docx, odd .odt; paragraph 0 carries XML-special
    characters (entity escape path), docx paragraph 1 carries a real
    <w:tab/> run, id % 3 == 0 uses STORED zip members (else deflate),
    odt id % 5 == 0 renders its first paragraph as a text:h heading."""
    import hashlib

    from logstash_spark.functions.officecodec import encode_docx, encode_odt

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                n_par = i % 3 + 1
                fmt = "docx" if i % 2 == 0 else "odt"
                paras = []
                for p in range(n_par):
                    h = hashlib.md5(str(i * 9 + p).encode()).hexdigest()
                    if p == 0:
                        paras.append(h[:16] + " &<x>")
                    elif p == 1 and fmt == "docx":
                        paras.append(h[:8] + "\t" + h[8:16])
                    else:
                        paras.append(h[:16])
                stored = i % 3 == 0
                if fmt == "docx":
                    buf = encode_docx(paras, stored=stored, with_tabs=True)
                    mime = ("application/vnd.openxmlformats-officedocument"
                            ".wordprocessingml.document")
                else:
                    buf = encode_odt(paras, stored=stored,
                                     heading_first=i % 5 == 0)
                    mime = "application/vnd.oasis.opendocument.text"
                rows.append((i, buf, mime))
            yield pd.DataFrame(rows, columns=["doc_id", "bytes", "mime"])

    return spark.range(n).mapInPandas(
        gen, "doc_id bigint, bytes binary, mime string")


def office_extract_text(df: DataFrame) -> DataFrame:
    """Sniff-and-extract for ZIP-container office documents: .docx
    (word/document.xml) and .odt (content.xml), whichever part the ZIP
    carries. Arrow batches, map-only, fail-closed rows survive with NULL
    text (corrupt-document audit stance, like pdf_extract_text)."""
    from logstash_spark.functions.officecodec import (
        extract_docx_text,
        extract_odt_text,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["bytes"]):
                fmt = text = None
                npar = nch = None
                if buf is not None:
                    raw = bytes(buf)
                    r = extract_docx_text(raw)
                    if r is not None:
                        fmt = "docx"
                    else:
                        r = extract_odt_text(raw)
                        if r is not None:
                            fmt = "odt"
                    if r is not None:
                        text, npar = r
                        nch = len(text)
                rows.append((int(did), fmt, npar, nch, text))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "fmt", "n_paragraphs", "n_chars", "text"])

    return df.select("doc_id", "bytes").mapInPandas(
        batches,
        "doc_id bigint, fmt string, n_paragraphs int, n_chars int, "
        "text string")


# ---------------------------------------------------------------------------
# Subtitle parsing (SRT / WebVTT) — the text half of video-text training
# pairs; caption files ride alongside video assets in a web corpus.
# ---------------------------------------------------------------------------

_CUE_TIME = (
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*"
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})[,.](\d{3})")


def parse_subtitles(
    df: DataFrame, *, text_col: str = "subs", url_col: str = "url"
) -> DataFrame:
    """SRT / WebVTT cue parsing -> one row per cue: ``(url, cue_idx,
    start_ms, end_ms, text)``. Handles both dialects in one pass: comma
    (SRT) or dot (VTT) millisecond separators, optional hours (VTT short
    form), SRT numeric-counter lines and VTT cue-settings after the
    timestamp (both ignored), multi-line cue text collapsed to one
    space-joined line. Cue order is the FILTERED block array's position
    (cue_idx assigned before the explode — no window, no shuffle), and
    the filter requires a FULL timestamp match, so WEBVTT headers, NOTE
    blocks (even ones quoting '-->' in prose) and malformed cues
    neither appear nor leave index gaps. Milliseconds are exact integer
    arithmetic. Map-only JVM."""
    blocks = F.split(F.col(text_col).cast("string"), r"\r?\n\r?\n")
    cues = F.filter(blocks, lambda b: b.rlike(_CUE_TIME))
    e = df.select(
        F.col(url_col).alias("url"),
        F.posexplode(cues).alias("cue_idx", "_cue"))

    def ms(hh, mm, ss, mmm):
        h = F.coalesce(F.nullif(hh, F.lit("")), F.lit("0")).cast("bigint")
        return (h * 3600000
                + mm.cast("bigint") * 60000
                + ss.cast("bigint") * 1000
                + mmm.cast("bigint"))

    g = [F.regexp_extract("_cue", _CUE_TIME, i) for i in range(1, 9)]
    start_ms = ms(g[0], g[1], g[2], g[3])
    end_ms = ms(g[4], g[5], g[6], g[7])
    body = F.regexp_extract(
        F.col("_cue"), r"(?s)-->[^\n]*\n(.*)$", 1)
    text = F.trim(F.regexp_replace(body, r"\s*\r?\n\s*", " "))
    return e.select(
        "url", "cue_idx",
        start_ms.alias("start_ms"),
        end_ms.alias("end_ms"),
        text.alias("text"),
    )


def synthetic_docs_mixed(spark, n: int = 240) -> DataFrame:
    """Mixed-format document corpus for the composed extraction
    pipeline: id % 4 routes PDF / docx / odt / raw HTML, each built by
    its own fixture encoder over the SAME md5-tiling closed-form text
    (two 16-hex-char lines per doc), so one SQL oracle replays every
    branch. HTML rows exercise the html->text branch; binary rows the
    container decoders."""
    import hashlib

    from logstash_spark.functions.officecodec import encode_docx, encode_odt
    from logstash_spark.functions.pdfcodec import encode_pdf

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                h = hashlib.md5(str(i * 13).encode()).hexdigest()
                lines = [h[:16], h[16:]]
                text = "\n".join(lines)
                k = i % 4
                if k == 0:
                    buf = encode_pdf([text], compress=i % 2 == 1)
                elif k == 1:
                    buf = encode_docx(lines)
                elif k == 2:
                    buf = encode_odt(lines)
                else:
                    buf = ("<html><head><title>t</title></head><body><p>"
                           + lines[0] + "</p>\n<p>" + lines[1]
                           + "</p></body></html>").encode()
                rows.append((i, buf))
            yield pd.DataFrame(rows, columns=["doc_id", "bytes"])

    return spark.range(n).mapInPandas(gen, "doc_id bigint, bytes binary")


def doc_extract_pipeline(df: DataFrame) -> DataFrame:
    """The composed multi-format text-extraction stage a 100 TB document
    corpus runs after MIME sniffing: ONE Arrow-batched pass that sniffs
    each document's magic bytes and routes to the right extractor —
    %PDF -> pdfcodec, PK zip -> officecodec (docx part, odt fallback),
    '<' -> the html tag-strip rule (paragraph tags become line breaks,
    remaining tags drop, whitespace collapses per line). Unrecognized
    documents keep their row with NULL fmt/text (audit stance).

    Scale shape: map-only, no shuffle; each branch is the same bounded
    fail-closed decoder the standalone queries gate."""
    import re as _re

    from logstash_spark.functions.officecodec import (
        extract_docx_text,
        extract_odt_text,
    )
    from logstash_spark.functions.pdfcodec import extract_pdf_text

    tag = _re.compile(r"<[^>]*>")
    ws = _re.compile(r"[ \t]+")

    def html_text(raw: bytes):
        try:
            s = raw.decode("utf-8", errors="replace")
            s = _re.sub(r"(?is)<(script|style)[^>]*>.*?</\1>", " ", s)
            s = _re.sub(r"(?is)<head[^>]*>.*?</head>", " ", s)
            s = _re.sub(r"(?i)</p\s*>|<br\s*/?>", "\n", s)
            s = tag.sub(" ", s)
            lines = [ws.sub(" ", ln).strip() for ln in s.split("\n")]
            return "\n".join(ln for ln in lines if ln)
        except Exception:
            return None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["bytes"]):
                fmt = text = None
                if buf is not None:
                    raw = bytes(buf)
                    if raw.startswith(b"%PDF-"):
                        r = extract_pdf_text(raw)
                        if r is not None:
                            fmt, text = "pdf", r[0]
                    elif raw.startswith(b"PK"):
                        r = extract_docx_text(raw)
                        if r is not None:
                            fmt, text = "docx", r[0]
                        else:
                            r = extract_odt_text(raw)
                            if r is not None:
                                fmt, text = "odt", r[0]
                    elif raw.lstrip()[:1] == b"<":
                        t = html_text(raw)
                        if t is not None:
                            fmt, text = "html", t
                rows.append((int(did), fmt,
                             len(text) if text is not None else None, text))
            yield pd.DataFrame(
                rows, columns=["doc_id", "fmt", "n_chars", "text"])

    return df.select("doc_id", "bytes").mapInPandas(
        batches, "doc_id bigint, fmt string, n_chars int, text string")


# ---------------------------------------------------------------------------
# WebDataset tar shards — THE public multimodal training-data container
# (Breuel's webdataset convention: samples are tar members sharing a key
# prefix, e.g. 000123.jpg + 000123.json + 000123.txt; shards stream in
# member order). stdlib tarfile only.
# ---------------------------------------------------------------------------


def build_webdataset_shard(samples, *, gz: bool = False) -> bytes:
    """Fixture/oracle builder: a deterministic WebDataset tar shard.
    ``samples`` = list of (key, {ext: bytes}). Fixed mtime/uid so bytes
    are reproducible."""
    import gzip as _gzip
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for key, members in samples:
            for ext, data in members.items():
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    # mtime=0 keeps the gzip wrapper deterministic too
    return _gzip.compress(raw, 6, mtime=0) if gz else raw


def webdataset_intake(df: DataFrame, *, shard_col: str = "bytes",
                      shard_id_col: str = "shard_id") -> DataFrame:
    """Tar-shard table -> one row per SAMPLE: members sharing the key
    prefix (name up to the first dot) group into a map<ext, binary>,
    preserving shard order — the WebDataset contract. Gzip shards
    (.tar.gz sniffed by magic) decompress in-stream. Hostile archives
    fail closed per shard (no rows) — including oversized members: a
    member above MAX_MEMBER fails the WHOLE shard exactly like a
    truncated one, because skipping just the member would emit partial
    (e.g. caption-only) samples that poison downstream pairing.

    Scale shape: one shard per task via Arrow batches (the WARC-intake
    envelope) — map-only, no shuffle; at 100 TB the shard table is the
    partitioning unit, exactly how WebDataset trains."""
    import gzip as _gzip
    import io
    import tarfile

    MAX_MEMBER = 1 << 26

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for sid, buf in zip(pdf[shard_id_col], pdf[shard_col]):
                if buf is None:
                    continue
                raw = bytes(buf)
                # r:* streams plain AND gzip tars — no up-front
                # gzip.decompress, so a gzip bomb never materializes
                # (per-member reads stay under MAX_MEMBER)
                try:
                    tf = tarfile.open(fileobj=io.BytesIO(raw), mode="r:*")
                except Exception:
                    continue
                order: list[str] = []
                groups: dict[str, dict] = {}
                try:
                    for info in tf:
                        if not info.isfile():
                            continue
                        if info.size > MAX_MEMBER:
                            # oversized = same class as truncated: the
                            # sample it belongs to would come out partial
                            raise ValueError("oversized member")
                        name = info.name.rsplit("/", 1)[-1]
                        if "." not in name:
                            continue
                        key, ext = name.split(".", 1)
                        f = tf.extractfile(info)
                        if f is None:
                            continue
                        data = f.read(MAX_MEMBER)
                        if len(data) != info.size:
                            # short read = truncated archive -> fail the
                            # WHOLE shard (no partial samples)
                            raise EOFError("truncated member")
                        if key not in groups:
                            groups[key] = {}
                            order.append(key)
                        groups[key][ext] = data
                except Exception:
                    # fail CLOSED per shard: a truncated archive must not
                    # emit partial samples (caption-only rows poison
                    # downstream pairing) — the docstring's contract
                    continue
                for idx, key in enumerate(order):
                    members = groups[key]
                    rows.append((
                        int(sid), idx, key,
                        sorted(members),
                        {e: v for e, v in members.items()},
                    ))
            yield pd.DataFrame(rows, columns=[
                "shard_id", "sample_idx", "key", "exts", "members"])

    return df.select(shard_id_col, shard_col).mapInPandas(
        batches,
        "shard_id bigint, sample_idx int, key string, "
        "exts array<string>, members map<string, binary>")
