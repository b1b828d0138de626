"""Unit tests for the pure-python JPEG codec (llm/jpeg.py), baseline
AND progressive:
exact solid-block round-trips, bounded lossy error, restart markers,
4:4:4 color conversion, honest NotImplementedError boundaries, and the
dead-letter contract of the Spark feature stage."""

from __future__ import annotations

import numpy as np
import pytest

from spotify_streaming_etl_pipeline_spark.llm import multimodal
from spotify_streaming_etl_pipeline_spark.llm.jpeg import (
    _ZZ,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)


def _solid_image(wb: int, hb: int, base: int) -> np.ndarray:
    img = np.zeros((hb * 8, wb * 8), dtype=int)
    for by in range(hb):
        for bx in range(wb):
            img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                base + by * wb + bx
            )
    return img


def test_zigzag_is_a_permutation_with_known_anchors():
    assert sorted(_ZZ) == list(range(64))
    # spec anchors: DC first, then (0,1), (1,0), (2,0), (1,1), (0,2)
    assert _ZZ[:6] == [0, 1, 8, 16, 9, 2]
    assert _ZZ[-1] == 63


def test_solid_blocks_roundtrip_exactly():
    img = _solid_image(3, 2, 41)
    out = decode_jpeg(encode_jpeg([img]))
    assert (out["width"], out["height"], out["channels"]) == (24, 16, 1)
    assert np.array(out["pixels"]).reshape(16, 24).tolist() == img.tolist()


def test_lossy_roundtrip_error_is_bounded():
    """With a flat-1 quant table the only loss is coefficient rounding
    (each of 64 coefs by <= 0.5), which bounds per-pixel error by the
    basis-magnitude sum — assert a conservative <= 3."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 16))
    dec = np.array(
        decode_jpeg(encode_jpeg([img], quant=[1] * 64))["pixels"]
    ).reshape(24, 16)
    assert np.abs(dec - img).max() <= 3


def test_restart_markers_reset_predictors():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (16, 32))
    plain = decode_jpeg(encode_jpeg([img], quant=[1] * 64))["pixels"]
    rst = decode_jpeg(
        encode_jpeg([img], quant=[1] * 64, restart_interval=3)
    )["pixels"]
    assert rst == plain


def test_color_444_converts_ycbcr_to_rgb():
    y, cb, cr = 120, 100, 140
    planes = [np.full((8, 8), v) for v in (y, cb, cr)]
    out = decode_jpeg(encode_jpeg(planes))
    assert out["channels"] == 3
    px = np.array(out["pixels"]).reshape(8, 8, 3)
    exp = [
        int(np.clip(round(y + 1.402 * (cr - 128)), 0, 255)),
        int(np.clip(round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), 0, 255)),
        int(np.clip(round(y + 1.772 * (cb - 128)), 0, 255)),
    ]
    assert px[0, 0].tolist() == exp
    assert (px == px[0, 0]).all()  # solid in, solid out


def test_arithmetic_refuses_and_fake_progressive_rejects():
    blob = bytearray(encode_jpeg([_solid_image(1, 1, 50)]))
    i = blob.find(b"\xff\xc0")
    arith = bytearray(blob)
    arith[i + 1] = 0xC9  # arithmetic coding: honest refusal
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arith))
    # a baseline stream re-labeled SOF2 is MALFORMED progressive
    # (its interleaved scan declares the full 0..63 band): rejected,
    # not mis-decoded
    fake = bytearray(blob)
    fake[i + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(fake))


def test_chroma_subsampling_decodes():
    """4:2:0 and 4:2:2 — the dominant real-world JPEG shapes — decode
    through the MCU-interleaved path: solid colors round-trip exactly
    (box-average downsample of a constant is the constant; DC exact;
    replication upsample exact), per-8x8-block luma detail survives
    under neutral chroma, and restart intervals compose."""
    y = np.zeros((16, 24), dtype=int)
    for by in range(2):
        for bx in range(3):
            y[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = 60 + by * 10 + bx * 5
    gray128 = np.full((16, 24), 128)
    for sampling in ([(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)]):
        out = decode_jpeg(
            encode_jpeg([y, gray128, gray128], sampling=sampling)
        )
        px = np.array(out["pixels"]).reshape(16, 24, 3)
        assert (px[..., 0] == y).all(), sampling  # luma exact
        assert (px[..., 1] == y).all()  # neutral chroma -> gray
    # solid color 4:2:0 reproduces the exact 4:4:4 conversion result
    planes = [np.full((16, 16), v) for v in (120, 100, 140)]
    full = decode_jpeg(encode_jpeg(planes))["pixels"]
    sub = decode_jpeg(
        encode_jpeg(planes, sampling=[(2, 2), (1, 1), (1, 1)])
    )["pixels"]
    assert sub == full
    # restarts under subsampling
    rst = decode_jpeg(
        encode_jpeg([y, gray128, gray128],
                    sampling=[(2, 2), (1, 1), (1, 1)], restart_interval=1)
    )["pixels"]
    plain = decode_jpeg(
        encode_jpeg([y, gray128, gray128],
                    sampling=[(2, 2), (1, 1), (1, 1)])
    )["pixels"]
    assert rst == plain


def test_truncated_and_garbage_blobs_raise_cleanly():
    blob = encode_jpeg([_solid_image(2, 2, 60)])
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg(blob[: len(blob) // 2])
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")


def test_undeclared_table_and_component_refs_raise_valueerror():
    """Malformed streams whose SOS/SOF reference tables or component
    ids never declared must raise ValueError — not KeyError or the
    RuntimeError PEP 479 makes of StopIteration — so corrupt input
    reads as a data error (jpeg_features dead-letters any exception,
    but anything else here is a decoder bug)."""
    blob = encode_jpeg([_solid_image(1, 1, 50)])
    sos = blob.find(b"\xff\xda")
    sof = blob.find(b"\xff\xc0")
    assert sos > 0 and sof > 0
    # SOS component id nobody declared
    bad_cid = bytearray(blob)
    bad_cid[sos + 5] = 99
    with pytest.raises(ValueError, match="component id"):
        decode_jpeg(bytes(bad_cid))
    # SOS Huffman table selector nobody declared
    bad_huff = bytearray(blob)
    bad_huff[sos + 6] = 0x33  # DC table 3 / AC table 3
    with pytest.raises(ValueError, match="Huffman"):
        decode_jpeg(bytes(bad_huff))
    # SOF quant table selector nobody declared
    bad_qt = bytearray(blob)
    bad_qt[sof + 12] = 3
    with pytest.raises(ValueError, match="quant"):
        decode_jpeg(bytes(bad_qt))


def test_decode_image_routes_jpeg():
    img = _solid_image(1, 1, 77)
    out = multimodal.decode_image(encode_jpeg([img]))
    assert out["width"] == 8 and set(out["pixels"]) == {77}


def test_jpeg_features_dead_letters_poison_blobs(spark):
    rows = [(0,), (1,)]
    docs = spark.createDataFrame(rows, "doc_id: long")
    media = multimodal.synth_jpeg_corpus(docs)
    poisoned = media.unionByName(
        spark.createDataFrame(
            [(99, bytearray(b"\xff\xd8garbage"))], "doc_id: long, blob: binary"
        )
    )
    got = {
        r["doc_id"]: (r["width"], r["mean_pixel"])
        for r in multimodal.jpeg_features(poisoned).collect()
    }
    assert got[99] == (None, None)  # poison nulls out, task survives
    assert got[0][0] == 8 and got[0][1] == 0.0  # doc 0: gray, base 0
    # doc 1 is color 4:2:0 (mode 1): base 17%180+10 = 27, 4 blocks,
    # chroma (128,133) shifts the channel-interleaved mean by +1
    assert got[1][0] == 16 and got[1][1] == 29.5


def test_progressive_decode_equals_baseline_decode():
    """decode(progressive_encode(img)) == decode(baseline_encode(img))
    bit for bit — both encoders share one quantization, so spectral
    selection, DC/AC successive approximation (first + refinement
    scans), EOBn runs, buffered correction bits, restart intervals,
    and chroma subsampling must all reconstruct the SAME coefficients.
    Deterministic pseudo-random battery over gray/color, 4:4:4/4:2:0/
    4:2:2, Al 0..2, and restart intervals 0..2."""
    import random

    rng = random.Random(42)
    for trial in range(10):
        h = 8 * rng.choice([1, 2, 3])
        w = 8 * rng.choice([1, 2, 3])
        nplanes = rng.choice([1, 3])
        planes = [
            [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
            for _ in range(nplanes)
        ]
        sampling = None
        if nplanes == 3 and rng.random() < 0.6:
            sampling = rng.choice(
                [[(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)]]
            )
        ri = rng.choice([0, 0, 1, 2])
        al = rng.choice([0, 1, 2])
        base = decode_jpeg(encode_jpeg(planes, sampling=sampling))
        prog = decode_jpeg(
            encode_jpeg_progressive(
                planes, sampling=sampling, restart_interval=ri,
                al_first=al,
            )
        )
        assert (base["width"], base["height"], base["channels"]) == (
            prog["width"], prog["height"], prog["channels"],
        ), (trial, h, w, nplanes, sampling, ri, al)
        assert base["pixels"] == prog["pixels"], (
            trial, h, w, nplanes, sampling, ri, al,
        )


def test_progressive_solid_blocks_decode_exactly():
    img = _solid_image(3, 2, 40)
    out = decode_jpeg(encode_jpeg_progressive([img]))
    assert out["width"] == 24 and out["height"] == 16
    assert np.array_equal(np.array(out["pixels"]).reshape(16, 24), img)


def test_progressive_malformed_scans_reject():
    blob = bytearray(encode_jpeg_progressive([_solid_image(1, 1, 50)]))
    # truncating must raise (both dead-letter-caught types), not
    # fabricate pixels
    for cut in (len(blob) // 2, len(blob) - 3):
        with pytest.raises((ValueError, IndexError)):
            decode_jpeg(bytes(blob[:cut]))


def _refine_scan_roundtrip(blocks, ss=1, se=63):
    """Encode ONE AC successive-approximation refinement scan (ah=1,
    al=0) of the given zigzag blocks and decode it against the prior
    -scan state ((|v|>>1)<<1 with sign); returns the decoded blocks."""
    from spotify_streaming_etl_pipeline_spark.llm.jpeg import (
        _BitReader,
        _DC_BITS,
        _DC_VALS,
        _PAC_BITS,
        _PAC_VALS,
        _ProgWriter,
        _canonical_codes,
        _enc_ac_refine,
        _enc_table,
        _prog_ac_refine,
    )

    zz = np.zeros((1, len(blocks), 64), dtype=np.int64)
    for bi, blk in enumerate(blocks):
        for k, v in blk.items():
            zz[0, bi, k] = v
    enc = {"real_blocks": [(1, len(blocks))], "zz": [zz]}
    pw = _ProgWriter(
        _enc_table(_DC_BITS, _DC_VALS), _enc_table(_PAC_BITS, _PAC_VALS)
    )
    _enc_ac_refine(pw, enc, 0, ss, se, 1, 0, 0)
    data = pw.finish()
    ac = _canonical_codes(_PAC_BITS, _PAC_VALS)
    reader = _BitReader(data, 0)
    dec = np.zeros((len(blocks), 64), dtype=np.int64)
    for bi, blk in enumerate(blocks):
        for k, v in blk.items():
            dec[bi, k] = (1 if v > 0 else -1) * ((abs(v) >> 1) << 1)
    eobrun = 0
    for bi in range(len(blocks)):
        eobrun = _prog_ac_refine(reader, ac, dec[bi], ss, se, 0, eobrun)
    return dec


def test_ac_refine_zrl_before_correction_bits():
    """libjpeg ordering: once the zero-history run exceeds 15, the ZRL
    (with its buffered correction bits) is emitted at the NEXT nonzero
    coefficient — newly significant or not.  A >=16 zero-history run
    preceding an already-significant coefficient desynced the old
    encoder (ValueError or silently wrong pixels)."""
    import random

    cases = [
        [{22: 2, 27: 1}],  # raised ValueError pre-fix
        [{17: 2, 40: 1}],  # silently decoded wrong pre-fix
        [{1: 3, 22: 2, 27: 1, 60: 2}],
        [{5: -2, 30: -1}],
        [{2: 2}],  # correction bits folded into a pure EOB run
        [{22: 2, 27: 1}, {17: 2, 40: 1}, {}, {63: 1}],  # cross-block EOBn
    ]
    rng = random.Random(7)
    for _ in range(40):  # sparse randomized battery
        blk = {}
        for _ in range(rng.randrange(1, 6)):
            blk[rng.randrange(1, 64)] = rng.choice([-3, -2, -1, 1, 2, 3])
        cases.append([blk, {}])
    for blocks in cases:
        dec = _refine_scan_roundtrip(blocks)
        for bi, blk in enumerate(blocks):
            want = np.zeros(64, dtype=np.int64)
            for k, v in blk.items():
                want[k] = v
            assert dec[bi].tolist() == want.tolist(), blocks


def test_progressive_per_component_dc_scans_decode():
    """Custom scan scripts emit per-component (non-interleaved) DC
    scans; spec G iterates the component's REAL block raster, not the
    interleaved MCU grid — subsampled chroma otherwise decodes blocks
    out of order and touches padding blocks.  dc_split=True must
    decode identically to the interleaved default AND to baseline."""
    import random

    rng = random.Random(11)
    for trial in range(6):
        h = 8 * rng.choice([1, 2, 3])
        w = 8 * rng.choice([1, 2, 3])
        planes = [
            [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
            for _ in range(3)
        ]
        sampling = rng.choice(
            [[(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)], None]
        )
        ri = rng.choice([0, 1, 2])
        al = rng.choice([0, 1, 2])
        base = decode_jpeg(encode_jpeg(planes, sampling=sampling))
        split = decode_jpeg(
            encode_jpeg_progressive(
                planes, sampling=sampling, restart_interval=ri,
                al_first=al, dc_split=True,
            )
        )
        assert base["pixels"] == split["pixels"], (trial, sampling, ri, al)


def test_12bit_precision_decodes():
    """12-bit frames (SOF precision 12): samples 0-4095, level shift
    2048, 16-bit DQT entries, the widened category tables — solid
    blocks round-trip exactly, random content is quant-bounded, and
    progressive encodes of the same coefficients decode identically
    (baseline AND with per-component DC scans)."""
    import random

    img = _solid_image(3, 2, 0) * 0
    for by in range(2):
        for bx in range(3):
            img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = (
                997 + 351 * (by * 3 + bx)
            )
    out = decode_jpeg(encode_jpeg([img.tolist()], precision=12))
    assert out["depth"] == 12
    assert np.array_equal(np.array(out["pixels"]).reshape(16, 24), img)
    # 8-bit output contract unchanged
    assert decode_jpeg(encode_jpeg([_solid_image(1, 1, 7)]))["depth"] == 8

    rng = random.Random(5)
    for trial in range(4):
        nplanes = rng.choice([1, 3])
        planes = [
            [[rng.randrange(4096) for _ in range(16)] for _ in range(16)]
            for _ in range(nplanes)
        ]
        sampling = (
            [(2, 2), (1, 1), (1, 1)]
            if nplanes == 3 and trial % 2
            else None
        )
        base = decode_jpeg(
            encode_jpeg(planes, precision=12, sampling=sampling)
        )
        assert base["depth"] == 12
        assert max(base["pixels"]) > 255  # genuinely 12-bit range
        prog = decode_jpeg(
            encode_jpeg_progressive(
                planes, precision=12, sampling=sampling,
                al_first=rng.choice([1, 2]), dc_split=bool(trial % 2),
            )
        )
        assert base["pixels"] == prog["pixels"], trial
    # grayscale random content is quantization-bounded, not garbage
    img = [[rng.randrange(4096) for _ in range(8)] for _ in range(8)]
    got = decode_jpeg(encode_jpeg([img], precision=12))["pixels"]
    flat = [v for row in img for v in row]
    assert max(abs(a - b) for a, b in zip(got, flat)) < 64


def test_unsupported_precision_refuses():
    blob = bytearray(encode_jpeg([_solid_image(1, 1, 30)]))
    i = blob.find(b"\xff\xc0") + 4
    blob[i] = 10  # SOF precision byte
    with pytest.raises(NotImplementedError, match="precision 10"):
        decode_jpeg(bytes(blob))
    with pytest.raises(ValueError, match="8 or 12"):
        encode_jpeg([_solid_image(1, 1, 30)], precision=10)
