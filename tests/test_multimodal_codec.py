"""Pixel-accurate tests for the real (BMP) multimodal decode path.

The encoder is pinned byte-for-byte against a hand-assembled 2x2 BMP (so
encoder+decoder can't be wrong together), the checked-in fixture decodes
to an independently recomputed gradient, and the Spark-side mapInPandas
operator (extract_features) is verified on real pixels.
"""

from __future__ import annotations

import os
import struct

import pytest

from clickhouse_forecasting_spark import multimodal as MM

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "gradient_6x4.bmp")


def _gradient_rgb(w: int = 6, h: int = 4) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out += bytes((x * 40, y * 60, (x + y) * 20))
    return bytes(out)


def test_encode_bmp_matches_hand_assembled_bytes():
    # 2x2 top-down RGB: red, green / blue, white
    rgb = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255))
    expected = (
        struct.pack("<2sIHHI", b"BM", 70, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16, 2835, 2835, 0, 0)
        # bottom-up BGR rows, each padded to 4 bytes:
        # bottom row (blue, white), then top row (red, green)
        + bytes((255, 0, 0, 255, 255, 255, 0, 0))
        + bytes((0, 0, 255, 0, 255, 0, 0, 0))
    )
    assert MM.encode_bmp(2, 2, rgb) == expected


@pytest.mark.parametrize("w,h", [(1, 1), (2, 2), (3, 2), (5, 3), (6, 4), (7, 1)])
def test_bmp_roundtrip_all_padding_cases(w, h):
    rgb = bytes((7 * i + 3) % 256 for i in range(w * h * 3))
    dec_w, dec_h, dec_rgb = MM.decode_bmp(MM.encode_bmp(w, h, rgb))
    assert (dec_w, dec_h, dec_rgb) == (w, h, rgb)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=9),
        h=st.integers(min_value=1, max_value=7),
        data=st.data(),
    )
    def test_bmp_roundtrip_property(w, h, data):
        rgb = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
                )
            )
        )
        assert MM.decode_bmp(MM.encode_bmp(w, h, rgb)) == (w, h, rgb)
except ImportError:  # pragma: no cover
    pass


def test_fixture_decodes_to_recomputed_gradient():
    payload = open(FIXTURE, "rb").read()
    w, h, rgb = MM.decode_bmp(payload)
    assert (w, h) == (6, 4)
    assert rgb == _gradient_rgb()


def test_decode_payload_routes_bmp_to_real_features():
    payload = open(FIXTURE, "rb").read()
    feats = MM._decode_payload(payload)
    rgb = _gradient_rgb()
    exact_mean = sum(rgb) / len(rgb)
    assert feats == [exact_mean, 6.0, 4.0, float(len(rgb))]


def test_decode_payload_falls_back_to_stub_for_unknown_magic():
    payload = b"not-an-image-payload"
    assert MM._decode_payload(payload) == [
        float(len(payload)),
        float(sum(payload) % 997),
        float(payload[0]),
        float(payload[-1]),
    ]


@pytest.mark.parametrize(
    "bad",
    [
        b"",
        b"BM" + b"\x00" * 20,  # truncated header
        # valid header claiming more pixel data than present
        MM.encode_bmp(2, 2, bytes(12))[:-4],
    ],
)
def test_decode_bmp_raises_on_corrupt(bad):
    with pytest.raises(ValueError):
        MM.decode_bmp(bad) if bad[:2] == b"BM" else MM._decode_payload(bad)


def test_resize_rgb_nearest_neighbor_exact():
    # 4x2 -> 2x1: floor sampling picks source pixels (0,0) and (2,0)
    rgb = bytes(range(4 * 2 * 3))
    out = MM.resize_rgb(rgb, 4, 2, 2, 1)
    assert out == rgb[0:3] + rgb[6:9]


def test_extract_features_real_pixels_in_spark(spark):
    payload = open(FIXTURE, "rb").read()
    rgb = _gradient_rgb()
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"plain-bytes")), (3, bytearray(b""))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in MM.extract_features(df).collect()}
    assert rows[1].feat_mean == pytest.approx(
        (sum(rgb) / len(rgb) + 6.0 + 4.0 + len(rgb)) / 4
    )
    assert rows[1].feat_dim == 4
    assert rows[2].feat_mean is not None  # stub fallback still works
    assert rows[3].feat_mean is None  # corrupt row isolated, not failed


# ---------------------------------------------------------------------------
# RIFF/WAVE (PCM) codec
# ---------------------------------------------------------------------------


def test_encode_wav_matches_hand_assembled_bytes():
    # 3 samples at 8 kHz: 0, +1, -1
    expected = (
        b"RIFF"
        + struct.pack("<I", 36 + 6)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data"
        + struct.pack("<I", 6)
        + struct.pack("<3h", 0, 1, -1)
    )
    assert MM.encode_wav(8000, [0, 1, -1]) == expected


def test_wav_roundtrip_extremes_and_rates():
    for sr, samples in [
        (8000, [0]),
        (16000, [32767, -32768, 0, -1, 1]),
        (44100, [(i * 1103) % 65536 - 32768 for i in range(64)]),
    ]:
        dec_sr, dec = MM.decode_wav(MM.encode_wav(sr, samples))
        assert (dec_sr, dec) == (sr, samples)


def test_decode_wav_skips_extra_chunks():
    # a LIST/INFO chunk between fmt and data must be walked over
    body = (
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", 4) + struct.pack("<2h", 5, -5)
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert MM.decode_wav(payload) == (8000, [5, -5])


@pytest.mark.parametrize(
    "mutate",
    [
        lambda p: p[:3],  # too short
        lambda p: b"RIFX" + p[4:],  # wrong magic
        lambda p: p.replace(b"WAVE", b"AVI "),  # wrong form type
        lambda p: p.replace(struct.pack("<HH", 16, 1)[2:], struct.pack("<H", 3), 1),
    ],
)
def test_decode_wav_rejects_corrupt_payloads(mutate):
    good = MM.encode_wav(8000, [1, 2, 3])
    with pytest.raises(ValueError):
        MM.decode_wav(mutate(good))


def test_wav_features_power_and_zero_crossings():
    # samples: +, -, -, + => 2 sign changes; mean power exact
    feats = MM._decode_payload(MM.encode_wav(8000, [100, -100, -50, 200]))
    assert feats == [
        (100 * 100 + 100 * 100 + 50 * 50 + 200 * 200) / 4,
        8000.0,
        4.0,
        2.0,
    ]


# ---------------------------------------------------------------------------
# AVI video codec
# ---------------------------------------------------------------------------


def test_encode_avi_decodes_via_hand_assembled_reference():
    # hand-assemble a single-frame 1x1 white AVI independent of encode_avi
    dib = b"\xff\xff\xff\x00"  # BGR + stride pad
    avih = b"avih" + struct.pack(
        "<I14I", 56, 40000, 100, 0, 16, 1, 0, 1, 4, 1, 1, 0, 0, 0, 0
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIIIhhhh",
        56, b"vids", b"DIB ", 0, 0, 0, 0, 1, 25, 0, 1, 4, 0xFFFFFFFF, 0, 0, 0, 1, 1,
    )
    strf = b"strf" + struct.pack(
        "<IIiiHHIIiiII", 40, 40, 1, 1, 1, 24, 0, 4, 2835, 2835, 0, 0
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi = (
        b"LIST" + struct.pack("<I", 4 + 8 + len(dib)) + b"movi"
        + b"00db" + struct.pack("<I", len(dib)) + dib
    )
    body = b"AVI " + hdrl + movi
    hand = b"RIFF" + struct.pack("<I", len(body)) + body
    assert MM.decode_avi(hand) == (1, 1, [b"\xff\xff\xff"])
    # the encoder's own output decodes to the same content
    assert MM.decode_avi(MM.encode_avi(1, 1, [b"\xff\xff\xff"])) == (
        1, 1, [b"\xff\xff\xff"],
    )


@pytest.mark.parametrize("w,h,n", [(1, 1, 1), (2, 2, 4), (3, 2, 2), (5, 3, 3)])
def test_avi_roundtrip_all_padding_cases(w, h, n):
    frames = [
        bytes(((i * 31 + k * 17) % 256) for i in range(w * h * 3)) for k in range(n)
    ]
    assert MM.decode_avi(MM.encode_avi(w, h, frames)) == (w, h, frames)


def test_decode_avi_rejects_corrupt_payloads():
    good = MM.encode_avi(2, 2, [bytes(range(12))])
    for bad in [
        b"RIFF" + good[4:8] + b"WAVX" + good[12:],  # wrong form
        good[:40],  # truncated tree
        good[:8] + b"AVI " + b"",  # no headers at all
    ]:
        with pytest.raises(ValueError):
            MM.decode_avi(bad)
    # a frameless but well-formed header tree also raises
    with pytest.raises(ValueError):
        no_movi = MM.encode_avi(2, 2, [bytes(range(12))])
        # strip the movi LIST (last top-level chunk)
        import struct as _s

        pos = 12
        while pos + 8 <= len(no_movi):
            (size,) = _s.unpack_from("<I", no_movi, pos + 4)
            if no_movi[pos + 8 : pos + 12] == b"movi":
                truncated = no_movi[:pos]
                truncated = (
                    truncated[:4]
                    + _s.pack("<I", len(truncated) - 8)
                    + truncated[8:]
                )
                MM.decode_avi(truncated)
                break
            pos += 8 + size + (size % 2)


def test_riff_dispatch_routes_by_form_type():
    wav = MM.encode_wav(8000, [100, -100])
    avi = MM.encode_avi(1, 1, [b"\x10\x20\x30"])
    assert MM._decode_payload(wav)[1] == 8000.0  # sample_rate slot
    assert MM._decode_payload(avi)[0] == 1.0  # n_frames slot
    with pytest.raises(ValueError):
        MM._decode_riff_features(b"RIFF\x04\x00\x00\x00JUNK")


def test_avi_features_mean_rgb_exact():
    frames = [bytes([10] * 12), bytes([30] * 12)]
    feats = MM._decode_avi_features(MM.encode_avi(2, 2, frames))
    assert feats == [2.0, 2.0, 2.0, 20.0]


def test_decode_avi_deep_list_nesting_raises_valueerror():
    """ADVICE r2: a crafted payload with deeply nested LIST chunks must
    hit the documented ValueError contract, not RecursionError."""
    import struct as _s

    body = b"avih" + _s.pack("<I", 40) + b"\x00" * 32 + _s.pack("<II", 1, 1)
    for _ in range(500):
        inner = b"nest" + body
        body = b"LIST" + _s.pack("<I", len(inner)) + inner
    payload = b"RIFF" + _s.pack("<I", 4 + len(body)) + b"AVI " + body
    with pytest.raises(ValueError, match="nested"):
        MM.decode_avi(payload)


def test_decode_avi_moderate_list_nesting_ok():
    """Nesting within the 16-level bound still decodes; frame order is
    preserved by the iterative walk."""
    import struct as _s

    good = MM.encode_avi(2, 2, [bytes(range(12)), bytes(range(12, 24))])
    # wrap the whole chunk sequence in 5 extra LIST levels
    inner = good[12:]
    for _ in range(5):
        wrapped = b"wrap" + inner
        inner = b"LIST" + _s.pack("<I", len(wrapped)) + wrapped
    payload = b"RIFF" + _s.pack("<I", 4 + len(inner)) + b"AVI " + inner
    assert MM.decode_avi(payload) == (2, 2, [bytes(range(12)), bytes(range(12, 24))])


# ---------------------------------------------------------------------------
# PPM (P6) codec — the second pluggable real decoder
# ---------------------------------------------------------------------------


def test_ppm_roundtrip_and_pinned_bytes():
    from clickhouse_forecasting_spark.multimodal import decode_ppm, encode_ppm

    rgb = bytes(range(2 * 2 * 3))
    payload = encode_ppm(2, 2, rgb)
    # header pinned byte-for-byte to the canonical P6 form
    assert payload[:15] == b"P6\n2 2\n255\n" + rgb[:4]
    assert decode_ppm(payload) == (2, 2, rgb)


def test_ppm_header_comments_and_whitespace():
    from clickhouse_forecasting_spark.multimodal import decode_ppm

    rgb = b"\x01\x02\x03"
    assert decode_ppm(b"P6 # c\n# comment line\n 1\t1 \n255\n" + rgb) == (
        1, 1, rgb
    )


def test_ppm_rejects_corrupt():
    import pytest as _pytest

    from clickhouse_forecasting_spark.multimodal import decode_ppm

    for bad in [
        b"P5\n1 1\n255\n\x00\x00\x00",        # wrong magic
        b"P6\n1 1\n65535\n\x00\x00\x00",      # unsupported maxval
        b"P6\n1 1\n255\n\x00",                # truncated pixels
        b"P6\n0 1\n255\n",                    # non-positive dims
        b"P6\nx 1\n255\n\x00\x00\x00",        # malformed field
    ]:
        with _pytest.raises(ValueError):
            decode_ppm(bad)


def test_ppm_features_match_bmp_features_on_same_pixels():
    from clickhouse_forecasting_spark.multimodal import (
        _decode_payload,
        encode_bmp,
        encode_ppm,
    )

    rgb = bytes((i * 7) % 256 for i in range(4 * 3 * 3))
    f_bmp = _decode_payload(encode_bmp(4, 3, rgb))
    f_ppm = _decode_payload(encode_ppm(4, 3, rgb))
    # identical pixels -> identical features regardless of container
    assert f_bmp == f_ppm


# ---------------------------------------------------------------- PNG (r4)


def test_png_roundtrip_and_registry_dispatch():
    rgb = bytes(range(48))
    p = MM.encode_png(4, 4, rgb)
    assert MM.decode_png(p) == (4, 4, rgb)
    # registry picks the PNG path and features match the BMP twin on
    # identical pixels (container independence)
    assert MM._decode_payload(p) == MM._decode_bmp_features(
        MM.encode_bmp(4, 4, rgb)
    )


def _png_with_filters(width, height, rgb, ftypes):
    """Hand-encode a PNG using arbitrary per-row filter types — proving
    the decoder handles OTHER encoders' filter choices, not just our
    own filter-0 output."""
    import struct
    import zlib

    stride = width * 3
    raw = bytearray()
    prior = bytearray(stride)
    for y, ft in enumerate(ftypes):
        line = bytearray(rgb[y * stride : (y + 1) * stride])
        enc = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, 2, -1):
                enc[i] = (line[i] - line[i - 3]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                enc[i] = (line[i] - prior[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                ul = prior[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - MM._png_paeth(left, prior[i], ul)) & 0xFF
        raw += bytes([ft]) + bytes(enc)
        prior = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + MM._png_chunk(b"IEND", b"")
    )


def test_png_decodes_all_five_scanline_filters():
    import hashlib

    rgb = (hashlib.md5(b"png-filters").digest() * 6)[: 4 * 5 * 3]
    for fts in ([1] * 5, [2] * 5, [3] * 5, [4] * 5, [0, 1, 2, 3, 4]):
        assert MM.decode_png(_png_with_filters(4, 5, rgb, fts)) == (4, 5, rgb), fts


def test_png_rejects_corruption_and_unsupported_variants():
    import struct
    import zlib

    import pytest

    rgb = bytes(48)
    good = MM.encode_png(4, 4, rgb)
    bad_crc = bytearray(good)
    bad_crc[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(bad_crc))
    with pytest.raises(ValueError, match="not a PNG"):
        MM.decode_png(b"\x89PNX" + good[4:])
    # palette (color type 3) must be refused, not mis-decoded
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)
    pal = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + MM._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        MM.decode_png(pal)
    with pytest.raises(ValueError, match="truncated|missing"):
        MM.decode_png(good[:-8])


def test_png_compression_is_real():
    # a constant image must compress far below raw size — proof the
    # DEFLATE path is actually exercised, not a stored-block shim
    rgb = bytes(32 * 32 * 3)
    p = MM.encode_png(32, 32, rgb)
    assert len(p) < len(rgb) // 4
    assert MM.decode_png(p) == (32, 32, rgb)
