"""Multimodal column plumbing (BASELINE.json extension surface).

Images/audio/video are opaque ``binary`` payload columns with a typed
metadata struct alongside — the parquet-native layout for multimodal
training data:

    payload  binary            -- the encoded media bytes
    media    struct<kind: string, mime: string, byte_len: long,
                    checksum: string>

The Spark-side plumbing (schemas, batch shapes, partitioning, Pandas-UDF
signatures) is real and tested. The decode step is PLUGGABLE: payloads
carrying an uncompressed 24-bit BMP (magic ``BM``) are decoded for real by
the pure-Python codec below (header parse, bottom-up BGR rows, 4-byte row
padding, nearest-neighbor resize), and RIFF/WAVE payloads (magic ``RIFF``)
by the pure-Python PCM codec (chunk walk, 16-bit mono samples, power /
zero-crossing features) — sample-accurate and library-free; any other
payload falls back to the deterministic byte-statistics stub. A real
deployment swaps/extends ``_DECODERS`` with PIL/libav calls; the dataflow
does not change.

Scale notes: payloads dominate bytes, so operators keep them out of
shuffles — feature extraction is ``mapInPandas`` (per-partition, zero
shuffle), and any grouping happens on the *metadata/feature* projection,
never on payload bytes. ``spark.sql.files.maxPartitionBytes`` governs batch
memory; Arrow moves payload bytes to Python zero-copy-ish per batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("feat_dim", T.IntegerType()),
    ]
)


def attach_payload(df: DataFrame) -> DataFrame:
    """Build a multimodal frame from the documents fixture: the text bytes
    stand in for an encoded media payload; metadata is computed JVM-side
    (octet_length/md5 — never pulls bytes into Python)."""
    payload = F.encode(F.col("text"), "utf-8")
    return df.select(
        F.col("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).cast("long").alias("byte_len"),
            F.md5(payload).alias("checksum"),
        ).alias("media"),
    )


# ---------------------------------------------------------------------------
# pure-Python BMP codec (the real decode path)
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB triples as an uncompressed 24-bit BI_RGB BMP
    (bottom-up BGR rows, each padded to a 4-byte boundary)."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError(f"rgb length {len(rgb)} != {width}x{height}x3")
    row_raw = width * 3
    pad = (-row_raw) % 4
    rows = []
    for y in range(height - 1, -1, -1):
        row = bytearray()
        base = y * row_raw
        for x in range(width):
            r, g, b = rgb[base + 3 * x : base + 3 * x + 3]
            row += bytes((b, g, r))
        rows.append(bytes(row) + b"\x00" * pad)
    pixels = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54)
    return file_header + info + pixels


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an uncompressed 24-bit BMP into (width, height, top-down RGB
    bytes). Raises ValueError for anything it can't honestly decode —
    that's the corrupt-media path the Pandas UDFs isolate per row."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: planes={planes} bpp={bpp} compression={compression}")
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    bottom_up = height > 0
    height = abs(height)
    row_raw = width * 3
    stride = row_raw + ((-row_raw) % 4)
    if len(payload) < data_offset + stride * height:
        raise ValueError("truncated BMP pixel data")
    out = bytearray(width * height * 3)
    for y in range(height):
        src_row = (height - 1 - y) if bottom_up else y
        base = data_offset + src_row * stride
        dst = y * row_raw
        for x in range(width):
            b, g, r = payload[base + 3 * x : base + 3 * x + 3]
            out[dst + 3 * x : dst + 3 * x + 3] = bytes((r, g, b))
    return width, height, bytes(out)


def resize_rgb(
    rgb: bytes, width: int, height: int, target_w: int, target_h: int
) -> bytes:
    """Nearest-neighbor resize of top-down RGB bytes (floor sampling —
    source pixel (x*w//tw, y*h//th), the standard point-sampling grid)."""
    out = bytearray(target_w * target_h * 3)
    for y in range(target_h):
        sy = y * height // target_h
        for x in range(target_w):
            sx = x * width // target_w
            i = (sy * width + sx) * 3
            j = (y * target_w + x) * 3
            out[j : j + 3] = rgb[i : i + 3]
    return bytes(out)


def _decode_bmp_features(payload: bytes) -> list[float]:
    """Real decode: mean pixel intensity over all RGB samples + geometry."""
    width, height, rgb = decode_bmp(payload)
    n = len(rgb)
    return [sum(rgb) / n, float(width), float(height), float(n)]


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB triples as a binary PPM (P6, maxval 255) —
    the second real image codec behind the magic-byte registry, proving
    the decode path is genuinely pluggable (netpbm is the canonical
    uncompressed interchange format)."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"rgb length {len(rgb)} != {width}x{height}x3")
    return f"P6\n{width} {height}\n255\n".encode("ascii") + rgb


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a binary PPM (P6): whitespace/comment-tolerant header parse
    (the netpbm spec), then raw top-down RGB. Raises ValueError for
    anything it can't honestly decode."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        try:
            fields.append(int(payload[start:pos]))
        except ValueError as exc:
            raise ValueError("malformed PPM header field") from exc
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval} (only 255)")
    if width <= 0 or height <= 0:
        raise ValueError("non-positive PPM dimensions")
    pos += 1  # exactly one whitespace byte after maxval, per spec
    rgb = payload[pos : pos + width * height * 3]
    if len(rgb) != width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return width, height, rgb


def _decode_ppm_features(payload: bytes) -> list[float]:
    """Real decode: mean pixel intensity over all RGB samples + geometry."""
    width, height, rgb = decode_ppm(payload)
    n = len(rgb)
    return [sum(rgb) / n, float(width), float(height), float(n)]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB triples as a real PNG (8-bit truecolor,
    non-interlaced, filter 0 scanlines, zlib level 6) — the third image
    codec behind the magic-byte registry and the first COMPRESSED one:
    the payload round-trips through an actual DEFLATE stream, so a
    broken inflate, CRC, or filter pass cannot hide."""
    import struct
    import zlib

    if len(rgb) != width * height * 3:
        raise ValueError(f"rgb length {len(rgb)} != {width}x{height}x3")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = width * 3
    raw = b"".join(
        b"\x00" + rgb[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit truecolor non-interlaced PNG into (width, height,
    top-down RGB). Honest decode: CRC-checked chunks, full inflate, and
    ALL FIVE standard scanline filters (None/Sub/Up/Average/Paeth) —
    other encoders' filter choices decode correctly, not just our own
    filter-0 output. Raises ValueError for anything else (palette,
    alpha, interlace, bad CRC, truncated stream)."""
    import struct
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, depth, ctype_col, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or ctype_col != 2 or comp != 0 or filt != 0:
                raise ValueError(
                    "unsupported PNG variant: depth=%d color=%d" % (depth, ctype_col)
                )
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if width is None or not seen_iend:
        raise ValueError("missing IHDR/IEND")
    raw = zlib.decompress(bytes(idat))
    stride = width * 3
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG scanline data size mismatch")
    out = bytearray(stride * height)
    bpp = 3
    prior = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _png_paeth(left, prior[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prior = line
    return width, height, bytes(out)


def _decode_png_features(payload: bytes) -> list[float]:
    """Real decode: mean pixel intensity over all RGB samples + geometry."""
    width, height, rgb = decode_png(payload)
    n = len(rgb)
    return [sum(rgb) / n, float(width), float(height), float(n)]


def encode_wav(sample_rate: int, samples: "list[int]") -> bytes:
    """Encode 16-bit signed mono PCM samples as a canonical RIFF/WAVE file
    (fmt chunk 16 bytes, audio_format=1/PCM, then the data chunk)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, list[int]]:
    """Decode a RIFF/WAVE payload into (sample_rate, 16-bit mono samples).
    Walks the chunk list (so extra chunks like LIST/INFO are skipped),
    requires PCM mono 16-bit, and raises ValueError for anything it can't
    honestly decode — the corrupt-media path the Pandas UDFs isolate."""
    import struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, bits, channels, fmt_seen = 12, None, None, None, False
    samples: list[int] | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            audio_format, channels, sample_rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_format != 1:
                raise ValueError(f"unsupported WAVE format {audio_format} (PCM only)")
            fmt_seen = True
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated data chunk")
            if not fmt_seen:
                raise ValueError("data chunk before fmt chunk")
            if channels != 1 or bits != 16:
                raise ValueError(f"unsupported PCM layout: {channels}ch {bits}-bit")
            n = size // 2
            samples = list(struct.unpack_from(f"<{n}h", body, 0))
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if samples is None or sample_rate is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, samples


def _decode_wav_features(payload: bytes) -> list[float]:
    """Real audio decode: mean signal power, rate, length, zero crossings."""
    sample_rate, samples = decode_wav(payload)
    n = len(samples)
    if n == 0:
        raise ValueError("empty PCM data")
    zc = sum(1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0))
    return [sum(s * s for s in samples) / n, float(sample_rate), float(n), float(zc)]


def encode_avi(width: int, height: int, frames: "list[bytes]") -> bytes:
    """Encode top-down RGB frames as a minimal uncompressed AVI (RIFF
    'AVI ' form): hdrl LIST (avih main header + one 'vids'/'DIB ' stream
    with a BITMAPINFOHEADER), then a movi LIST of '00db' raw-DIB frame
    chunks (bottom-up BGR rows padded to 4 bytes, the BMP pixel layout)."""
    import struct

    row_raw = width * 3
    pad = (-row_raw) % 4
    frame_chunks = []
    for rgb in frames:
        if len(rgb) != width * height * 3:
            raise ValueError(f"frame length {len(rgb)} != {width}x{height}x3")
        rows = []
        for y in range(height - 1, -1, -1):
            row = bytearray()
            base = y * row_raw
            for x in range(width):
                r, g, b = rgb[base + 3 * x : base + 3 * x + 3]
                row += bytes((b, g, r))
            rows.append(bytes(row) + b"\x00" * pad)
        dib = b"".join(rows)
        frame_chunks.append(
            b"00db" + struct.pack("<I", len(dib)) + dib + (b"\x00" * (len(dib) % 2))
        )
    movi_body = b"movi" + b"".join(frame_chunks)
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    frame_bytes = (row_raw + pad) * height
    avih = b"avih" + struct.pack(
        "<I14I",
        56, 40_000, frame_bytes * 25, 0, 0x10, len(frames), 0, 1,
        frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIIIhhhh",
        56, b"vids", b"DIB ", 0, 0, 0, 0, 1, 25, 0, len(frames),
        frame_bytes, 0xFFFFFFFF, 0, 0, 0, width, height,
    )
    strf = b"strf" + struct.pack(
        "<I" + "IiiHHIIiiII", 40,
        40, width, height, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0,
    )
    strl_body = b"strl" + strh + strf
    strl = b"LIST" + struct.pack("<I", len(strl_body)) + strl_body
    hdrl_body = b"hdrl" + avih + strl
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(payload: bytes) -> tuple[int, int, "list[bytes]"]:
    """Decode a minimal uncompressed AVI into (width, height, list of
    top-down RGB frames). Walks the RIFF chunk tree (unknown chunks are
    skipped, like the WAV walker) and raises ValueError for anything it
    can't honestly decode."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    width = height = None
    frames: list[bytes] = []

    # Iterative chunk-tree walk (explicit stack) so a crafted payload
    # with deeply nested LIST chunks hits the documented ValueError
    # contract instead of RecursionError.
    _MAX_LIST_DEPTH = 16
    stack: list[tuple[int, int]] = [(12, len(payload))]
    while stack:
        if len(stack) > _MAX_LIST_DEPTH:
            raise ValueError("LIST chunks nested deeper than 16 levels")
        pos, end = stack.pop()
        if pos + 8 > end:
            continue
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body_start = pos + 8
        if body_start + size > end:
            raise ValueError(f"truncated chunk {cid!r}")
        # resume this level after the current chunk, then (for LIST)
        # descend into the body first — stack order preserves document
        # order for '00db' frame chunks
        stack.append((body_start + size + (size % 2), end))
        if cid == b"LIST":
            stack.append((body_start + 4, body_start + size))
        elif cid == b"avih":
            if size < 40:
                raise ValueError("truncated avih header")
            # dwWidth/dwHeight are the 9th/10th dwords of the body
            width, height = struct.unpack_from("<II", payload, body_start + 32)
        elif cid == b"00db":
            frames.append(payload[body_start : body_start + size])
    if width is None or height is None:
        raise ValueError("missing avih header")
    if not frames:
        raise ValueError("no video frames ('00db' chunks)")
    row_raw = width * 3
    stride = row_raw + ((-row_raw) % 4)
    out_frames = []
    for dib in frames:
        if len(dib) < stride * height:
            raise ValueError("truncated frame data")
        out = bytearray(width * height * 3)
        for y in range(height):
            base = (height - 1 - y) * stride
            dst = y * row_raw
            for x in range(width):
                b, g, r = dib[base + 3 * x : base + 3 * x + 3]
                out[dst + 3 * x : dst + 3 * x + 3] = bytes((r, g, b))
        out_frames.append(bytes(out))
    return width, height, out_frames


def _decode_avi_features(payload: bytes) -> list[float]:
    """Real video decode: frame count, geometry, mean RGB level across
    every pixel of every frame."""
    width, height, frames = decode_avi(payload)
    total = sum(sum(f) for f in frames)
    n = len(frames) * width * height * 3
    return [float(len(frames)), float(width), float(height), total / n]


def _decode_riff_features(payload: bytes) -> list[float]:
    """RIFF container dispatch: the form type (bytes 8-12) picks the
    codec — WAVE audio or AVI video — mirroring how a real media stack
    routes on container metadata, not file extension."""
    form = payload[8:12]
    if form == b"WAVE":
        return _decode_wav_features(payload)
    if form == b"AVI ":
        return _decode_avi_features(payload)
    raise ValueError(f"unsupported RIFF form {form!r}")


def _decode_stub_features(payload: bytes) -> list[float]:
    """Deterministic byte-statistics fake for payloads with no real codec
    in this container (swap in PIL/libav in a real deployment)."""
    n = len(payload)
    return [
        float(n),
        float(sum(payload[:256]) % 997),
        float(payload[0]),
        float(payload[-1]),
    ]


# magic-byte -> decoder registry; first match wins, stub is the fallback.
# RIFF routes through the form-type dispatch (WAVE audio / AVI video).
_DECODERS: list[tuple[bytes, object]] = [
    (b"BM", _decode_bmp_features),
    (b"P6", _decode_ppm_features),
    (_PNG_SIG, _decode_png_features),
    (b"RIFF", _decode_riff_features),
]


def _decode_payload(payload: bytes) -> list[float]:
    """Pluggable decode: real codec when the payload's magic matches one
    (BMP today), deterministic stub otherwise. Raises for empty payloads
    the way a real decoder raises for corrupt media."""
    if not payload:
        raise ValueError("empty payload")
    for magic, fn in _DECODERS:
        if payload[: len(magic)] == magic:
            return fn(payload)  # type: ignore[operator]
    return _decode_stub_features(payload)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extract every payload via mapInPandas — the canonical decode
    pattern: per-partition Arrow batches in, small feature rows out, payload
    bytes never shuffled. Corrupt payloads yield NULL features instead of
    failing the batch (per-row fault isolation, mirroring the forecaster's
    M4 semantics)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    feats = _decode_payload(bytes(payload))
                    out.append(
                        {
                            "doc_id": doc_id,
                            "byte_len": len(payload),
                            "feat_mean": sum(feats) / len(feats),
                            "feat_dim": len(feats),
                        }
                    )
                except Exception:
                    out.append(
                        {"doc_id": doc_id, "byte_len": len(payload), "feat_mean": None, "feat_dim": None}
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return df.select("doc_id", "payload").mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
        T.StructField("frame_checksum", T.StringType()),
    ]
)


def _sample_frames(payload: bytes) -> list[bytes]:
    """STUB — deterministic fake frame sampler. A real deployment replaces
    this with libav/pyav keyframe extraction; the dataflow (1 video row ->
    4 frame rows) is what's under test. Fake frames are byte-slices so
    frame count/sizes are deterministic."""
    if not payload:
        raise ValueError("empty payload")
    step = max(len(payload) // 4, 1)
    return [payload[i * step : (i + 1) * step] or payload[-step:] for i in range(4)]


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling via mapInPandas — the 1:N batch shape (one media row
    yields 4 frame rows). Payload bytes stay within the partition; any
    downstream grouping runs on (doc_id, frame_idx) + checksum, never on
    frame bytes. Corrupt payloads are skipped (fault isolation), visible as
    missing doc_ids."""
    import hashlib

    def _explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    frames = _sample_frames(bytes(payload))
                except Exception:
                    continue
                for i, fr in enumerate(frames):
                    out.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame_payload": fr,
                            "frame_checksum": hashlib.md5(fr).hexdigest(),
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return df.select("doc_id", "payload").mapInPandas(_explode_frames, schema=FRAME_SCHEMA)
