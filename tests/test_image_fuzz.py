"""Seeded mutation-fuzz crash hygiene for the raster / PCM decoders
(PNG, BMP, GIF, WAV, JPEG) — the same battery PDF/lines (r11) and
WebP/mp3/FLAC (r12) carry: random byte corruptions of a valid blob
must raise ordinary data errors, never hang, exhaust memory, or
escape as an exception outside ``_DATA_ERRORS``.

The feature stages do not depend on these tuples: every stage
runs through ``llm/multimodal.py:_blob_stage``, whose one poison
policy dead-letters any ``Exception``.  The fuzz pins the decoders'
own contract instead — corrupt input is reported as a data error
(``ValueError`` and kin), not as an ``AttributeError`` /
``OverflowError`` from deep inside a decode loop, which is how the
JPEG scan defects this battery now covers first showed up."""

from __future__ import annotations

import random
import struct
import zlib

from spotify_streaming_etl_pipeline_spark.llm.multimodal import (
    _gif_lzw_encode,
    decode_bmp,
    decode_gif,
    decode_png,
    decode_wav,
    encode_png,
)

_DATA_ERRORS = (ValueError, NotImplementedError, IndexError, KeyError,
                struct.error, zlib.error)


def _fuzz(decoder, base: bytes, seed: int, rounds: int = 200,
          allowed: tuple = _DATA_ERRORS) -> None:
    rng = random.Random(seed)
    for _ in range(rounds):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            decoder(bytes(b))
        except allowed:
            pass


def test_png_mutation_fuzz():
    rng = random.Random(1)
    px = bytes(rng.randrange(256) for _ in range(12 * 9 * 3))
    # interlaced: the Adam7 scatter path has the most index arithmetic
    _fuzz(decode_png, encode_png(12, 9, 3, px, interlace=True), seed=2)


def test_bmp_mutation_fuzz():
    # the 8-bit paletted shape synth_bmp_corpus emits
    palette = b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))
    w, h = 11, 7
    stride = (w + 3) & ~3
    pixels = (bytes(range(40, 40 + w)) + b"\x00" * (stride - w)) * h
    off = 14 + 40 + len(palette)
    blob = (b"BM" + struct.pack("<IHHI", off + len(pixels), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                          len(pixels), 0, 0, 256, 0)
            + palette + pixels)
    assert decode_bmp(blob)["width"] == w
    _fuzz(decode_bmp, blob, seed=3)


def test_gif_mutation_fuzz():
    palette = b"".join(bytes((i, i, i)) for i in range(256))
    w, h = 9, 6
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0)
    out += palette
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes((8,))
    data = _gif_lzw_encode(bytes(range(w * h)), 8)
    for o in range(0, len(data), 255):
        chunk = data[o : o + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00\x3b"
    assert decode_gif(bytes(out))["width"] == w
    _fuzz(decode_gif, bytes(out), seed=4)


def test_png_poison_memory_budget():
    """The poison-blob memory contract: header-declared dims never
    drive allocation.  A 100-byte blob declaring a 2^30-square raster
    refuses in O(1); a zlib bomb (small declared dims, stream
    inflating to 50 MB) stops at the dimension-implied bound."""
    import pytest

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + b"\0\0\0\0"

    sig = b"\x89PNG\r\n\x1a\n"
    huge = chunk(b"IHDR", struct.pack(">IIBBBBB", 1 << 30, 1 << 30,
                                      8, 6, 0, 0, 0))
    blob = sig + huge + chunk(b"IDAT", zlib.compress(b"\0" * 64))
    with pytest.raises(ValueError, match="decode budget"):
        decode_png(blob)
    small = chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0))
    bomb = sig + small + chunk(b"IDAT", zlib.compress(b"\0" * 50_000_000, 9))
    with pytest.raises(ValueError, match="unexpected length"):
        decode_png(bomb)


def test_webp_and_jpeg_poison_dims_refuse():
    """decode_webp / decode_jpeg share the budget: VP8L's 14-bit dims
    admit 268M pixels and JPEG's 16-bit dims 4.3G samples — both
    would OOM an executor through a bytes-long poison header."""
    import pytest

    from spotify_streaming_etl_pipeline_spark.llm.jpeg import decode_jpeg
    from spotify_streaming_etl_pipeline_spark.llm.webp import decode_webp

    from spotify_streaming_etl_pipeline_spark.llm.webp import _BitWriter

    bw = _BitWriter()
    bw.write(16383, 14)  # width-1
    bw.write(16383, 14)  # height-1
    bw.write(0, 4)
    body = b"\x2f" + bw.finish()
    blob = (b"RIFF" + struct.pack("<I", 12 + len(body) + (len(body) & 1))
            + b"WEBPVP8L" + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b""))
    with pytest.raises(ValueError, match="decode budget"):
        decode_webp(blob)

    sof = struct.pack(">BHHB", 8, 65535, 65535, 1) + bytes([1, 0x11, 0])
    jpg = (b"\xff\xd8\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
           + b"\xff\xd9")
    with pytest.raises(ValueError, match="decode budget"):
        decode_jpeg(jpg)


def test_pdf_inflate_budgets():
    """FlateDecode stops a deflate bomb at the 64 MB stream budget;
    LZWDecode stops its dictionary-amplified equivalent."""
    import pytest

    from spotify_streaming_etl_pipeline_spark.llm.pdf import (
        _apply_filter,
        _lzw_decode,
    )

    bomb = zlib.compress(b"\0" * 80_000_000, 9)
    with pytest.raises(ValueError, match="inflate budget"):
        _apply_filter(b"FlateDecode", bomb)
    # legitimate stream unaffected
    assert _apply_filter(b"FlateDecode", zlib.compress(b"ok")) == b"ok"

    # LZW bomb: grow one long dictionary entry, then repeat it — the
    # KwKwK ladder makes output quadratic in code count
    out = bytearray()
    acc = nbits = 0

    def put(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    width = 9
    put(256, width)  # clear
    put(65, width)   # 'A'
    ncodes = 258
    for _ in range(3800):
        put(ncodes, width)  # KwKwK: each new entry is one byte longer
        ncodes += 1
        if ncodes + 1 >= (1 << width) and width < 12:
            width += 1
    # then repeat a ~3.8 KB entry until cumulative output passes 64 MB
    for _ in range(40000):
        put(ncodes - 1, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    with pytest.raises(ValueError, match="inflate budget"):
        _lzw_decode(bytes(out))


def test_video_container_mutation_fuzz(spark):
    """The container walkers (RIFF/AVI chunk walk, ISO-BMFF sample
    tables, EBML/Matroska clusters incl. all three lacings) under the
    same seeded corruption battery — the walkers report corruption as
    (ValueError, NotImplementedError, struct.error), and the fuzz pins
    them to that narrower tuple (the stages would dead-letter anything
    else, but an IndexError / KeyError here is a walker bug)."""
    from spotify_streaming_etl_pipeline_spark.llm.multimodal import (
        sample_frames,
        synth_mkv_corpus,
        synth_video_corpus,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id: long")
    blobs = [bytes(r["blob"])
             for r in synth_video_corpus(docs).collect()]
    blobs += [bytes(r["blob"]) for r in synth_mkv_corpus(docs).collect()]
    rng = random.Random(6)
    for k, base in enumerate(blobs):
        for _ in range(60):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                frames = sample_frames(bytes(b))
                assert isinstance(frames, list)
            except (ValueError, NotImplementedError, struct.error):
                pass


def test_wav_mutation_fuzz():
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    pcm = struct.pack("<24h", *range(-12, 12))
    blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    assert decode_wav(blob)["n_samples"] == 24
    _fuzz(decode_wav, blob, seed=5)


def test_jpeg_mutation_fuzz():
    """4:2:0 color JPEGs, baseline and progressive, under the battery:
    a corrupt SOS can name a Huffman table no DHT defined, and a
    corrupt DC category can overflow the int32 coefficient block —
    both must surface as ValueError, not AttributeError /
    OverflowError."""
    from spotify_streaming_etl_pipeline_spark.llm.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = random.Random(7)
    y = [[(x * 13 + r * 7 + rng.randrange(32)) % 256 for x in range(16)]
         for r in range(16)]
    cb = [[(100 + x * 3 + r) % 256 for x in range(16)] for r in range(16)]
    cr = [[(150 - x - 2 * r) % 256 for x in range(16)] for r in range(16)]
    sampling = [(2, 2), (1, 1), (1, 1)]
    for seed, encode in ((8, encode_jpeg), (1, encode_jpeg_progressive)):
        blob = encode([y, cb, cr], sampling=sampling)
        assert decode_jpeg(blob)["width"] == 16
        _fuzz(decode_jpeg, blob, seed=seed)
