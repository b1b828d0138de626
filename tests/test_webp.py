"""Units for the WebP codec (llm/webp.py): VP8L encoder/decoder
round-trips across every transform and prefix-code shape, container
header walks, honest lossy-VP8 refusal, and the Spark dead-letter
stage."""

from __future__ import annotations

import random
import struct

import pytest

from spotify_streaming_etl_pipeline_spark.llm import multimodal
from spotify_streaming_etl_pipeline_spark.llm.webp import (
    decode_webp,
    encode_webp_lossless,
    encode_webp_lossy_stub,
    webp_info,
)


def _rt(px, w, h, **kw):
    out = decode_webp(encode_webp_lossless(px, w, h, **kw))
    assert (out["width"], out["height"]) == (w, h)
    assert out["pixels"] == px


def test_literal_and_rle_roundtrip():
    rng = random.Random(1)
    px = [0xFF000000 | rng.randrange(1 << 24) for _ in range(7 * 5)]
    _rt(px, 7, 5)
    # row-constant image: RLE emits dist-1 backward references
    rows = [0xFF000000 | (y << 16) | ((3 * y) << 8) | 77 for y in range(5)]
    _rt([rows[y] for y in range(5) for _ in range(7)], 7, 5, rle=True)
    # solid color: every channel code is a single-symbol simple code
    _rt([0xFF336699] * 50, 10, 5, rle=True)
    _rt([0xFF000000], 1, 1)


def test_transforms_roundtrip_exactly():
    rng = random.Random(2)
    grad = [
        0xFF000000 | ((20 + x + y) << 16) | ((40 + 2 * x) << 8) | (60 + y)
        for y in range(6)
        for x in range(9)
    ]
    _rt(grad, 9, 6, transform="subtract_green")
    for mode in range(14):  # all predictor modes
        px = [0xFF000000 | rng.randrange(1 << 24) for _ in range(8 * 5)]
        _rt(px, 8, 5, transform=("predictor", mode, 2))
    _rt(grad, 9, 6, transform=("color", 16, 8, 4, 2))
    _rt(grad, 9, 6, transform=("color", 0xF0, 0x7F, 0x80, 3))  # signed deltas


def test_palette_bundling_all_widths():
    rng = random.Random(3)
    for n_colors in (2, 3, 4, 5, 16, 17, 300 // 10):
        colors = [0xFF000000 | rng.randrange(1 << 24) for _ in range(n_colors)]
        px = [colors[rng.randrange(n_colors)] for _ in range(11 * 4)]
        _rt(px, 11, 4, transform="palette")
    with pytest.raises(ValueError, match="palette"):
        encode_webp_lossless(
            [0xFF000000 | i for i in range(300)], 300, 1, transform="palette"
        )


def test_randomized_battery_all_paths():
    rng = random.Random(42)
    for _ in range(60):
        w, h = rng.randrange(1, 13), rng.randrange(1, 9)
        tf = rng.choice(
            [
                None,
                "subtract_green",
                ("predictor", rng.randrange(14), rng.choice([2, 3, 4])),
                ("color", 16, 8, 4, 2),
                "palette",
            ]
        )
        nc = rng.choice([2, 5, 16, 17]) if tf == "palette" else 5
        colors = [0xFF000000 | rng.randrange(1 << 24) for _ in range(nc)]
        px = [colors[rng.randrange(nc)] for _ in range(w * h)]
        _rt(px, w, h, transform=tf, rle=rng.random() < 0.5)


def test_alpha_flag_and_header_info():
    blob = encode_webp_lossless([0x80336699] * 4, 2, 2)
    info = webp_info(blob)
    assert info == {
        "format": "VP8L", "width": 2, "height": 2, "has_alpha": True,
    }
    assert decode_webp(blob)["has_alpha"] is True
    # VP8X extended header: canvas dims from the 24-bit fields
    payload = bytes([0x10]) + b"\x00\x00\x00" + b"\x1f\x00\x00" + b"\x0b\x00\x00"
    chunk = b"VP8X" + struct.pack("<I", len(payload)) + payload
    vp8x = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    got = webp_info(vp8x)
    assert (got["width"], got["height"], got["has_alpha"]) == (32, 12, True)


def test_lossy_vp8_refuses_with_header_audit():
    blob = encode_webp_lossy_stub(33, 21)
    info = webp_info(blob)
    assert (info["width"], info["height"], info["format"]) == (33, 21, "VP8")
    with pytest.raises(NotImplementedError, match="VP8"):
        decode_webp(blob)


def test_corrupt_blobs_raise_cleanly():
    with pytest.raises(ValueError):
        webp_info(b"not a webp")
    with pytest.raises(ValueError):
        webp_info(b"RIFF\x04\x00\x00\x00WAVE")
    good = encode_webp_lossless([0xFF112233, 0xFF445566] * 8, 4, 4)
    # truncation mid-bitstream
    with pytest.raises(ValueError):
        decode_webp(good[: len(good) - 6])
    # bad VP8L signature byte
    i = good.find(b"VP8L") + 8
    with pytest.raises(ValueError):
        decode_webp(good[:i] + b"\x00" + good[i + 1 :])


def test_decode_image_routes_webp():
    px = [0xFF000000 | (i << 8) for i in range(6)]
    out = multimodal.decode_image(encode_webp_lossless(px, 3, 2))
    # opaque ARGB unpacks to RGB channel values, as every raster does
    assert (out["width"], out["height"], out["channels"]) == (3, 2, 3)
    assert out["pixels"] == [c for i in range(6) for c in (0, i, 0)]


def test_webp_features_dead_letters_and_refusals(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id: long")
    media = multimodal.synth_webp_corpus(docs)
    poisoned = media.unionByName(
        spark.createDataFrame(
            [
                (90, bytearray(encode_webp_lossy_stub(20, 10))),
                (91, bytearray(b"junk bytes")),
            ],
            "doc_id: long, blob: binary",
        )
    )
    got = {
        r["doc_id"]: r for r in multimodal.webp_features(poisoned).collect()
    }
    # doc 0: 4x3, case 0 row-constant, rb=gb=0 -> sums from the gradient
    assert (got[0].width, got[0].height, got[0].fmt) == (4, 3, "VP8L")
    assert got[0].sum_red == 4 * (0 + 1 + 2)  # w * sum(y)
    # lossy: header audit kept, pixel sums null
    assert (got[90].width, got[90].height, got[90].fmt) == (20, 10, "VP8")
    assert got[90].sum_red is None
    # poison: full null row
    assert got[91].width is None and got[91].fmt is None


def test_webp_rides_the_resize_route():
    """decode_image dispatches RIFF/WEBP, so resize_image normalizes
    WebP like every other raster format (RGB for opaque, RGBA when the
    alpha channel is real)."""
    px = [0xFF102030, 0xFF405060, 0xFF708090, 0xFFA0B0C0]
    out = multimodal.decode_png(
        multimodal.resize_image(encode_webp_lossless(px, 2, 2), 4, 4)
    )
    assert (out["width"], out["height"], out["channels"]) == (4, 4, 3)
    assert out["pixels"][:3] == bytes([0x10, 0x20, 0x30])
    out2 = multimodal.decode_png(
        multimodal.resize_image(
            encode_webp_lossless([0x80102030] * 4, 2, 2), 2, 2
        )
    )
    assert out2["channels"] == 4 and out2["pixels"][3] == 0x80


def test_mutation_fuzz_raises_cleanly():
    """Seeded mutation fuzz: corrupted VP8L bytes must raise ordinary
    data errors (the dead-letter contract), never hang or crash the
    interpreter."""
    rng = random.Random(99)
    base = encode_webp_lossless(
        [0xFF000000 | rng.randrange(1 << 24) for _ in range(48)],
        8, 6, transform="palette",
    )
    for _ in range(150):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            out = decode_webp(bytes(b))
            assert len(out["pixels"]) == out["width"] * out["height"]
        except (ValueError, NotImplementedError, IndexError, KeyError):
            pass


def test_long_rle_run_splits_at_4096():
    # a constant run longer than the VP8L max backward-reference
    # length (4096) must split into multiple copy tokens — the length
    # prefix code would otherwise fall outside the green alphabet and
    # the header writer would silently omit it (r11 ADVICE)
    w, h = 128, 40  # 5120 pixels: one literal + a 5119-long run
    px = [0xFF336699] * (w * h)
    out = decode_webp(encode_webp_lossless(px, w, h, rle=True))
    assert out["pixels"] == px


def test_write_code_rejects_out_of_alphabet_symbols():
    from spotify_streaming_etl_pipeline_spark.llm.webp import (
        _BitWriter,
        _write_code,
    )

    with pytest.raises(ValueError, match="alphabet"):
        _write_code(_BitWriter(), {300: 4, 1: 2}, 280)


def test_dimension_limits_rejected():
    with pytest.raises(ValueError, match="16384"):
        encode_webp_lossless([0xFF000000] * 16385, 16385, 1)
    with pytest.raises(ValueError, match="16384"):
        encode_webp_lossless([], 0, 0)


def test_truncated_chunks_raise_value_error():
    # declared size exceeding the blob, and per-chunk minimum sizes:
    # struct.error / IndexError escaped the (ValueError, ...) fuzz
    # contract before the explicit length validation (r11 ADVICE)
    def chunk(fourcc, body):
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def riff(payload):
        return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload

    # VP8X declaring 10 bytes but carrying 2
    bad = riff(b"VP8X" + struct.pack("<I", 10) + b"\x10\x00")
    with pytest.raises(ValueError, match="truncated"):
        webp_info(bad)
    # VP8X with a correctly-declared but sub-minimum body
    with pytest.raises(ValueError, match="truncated"):
        webp_info(riff(chunk(b"VP8X", b"\x10\x00")))
    # VP8 lossy chunk too short for the frame header
    with pytest.raises(ValueError, match="truncated"):
        webp_info(riff(chunk(b"VP8 ", b"\x00\x01\x02\x9d\x01\x2a\x07")))
    # VP8L too short for the 5-byte signature+dims header
    with pytest.raises(ValueError, match="truncated"):
        webp_info(riff(chunk(b"VP8L", b"\x2f\x00\x00")))
