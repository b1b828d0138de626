"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern for a 100 TB multimodal training table: media lives as an
opaque ``binary`` column (or an object-store pointer) beside a typed
metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so bytes stream through Python in columnar batches —
never row-at-a-time, never through the driver.

Decode status: PNG, BMP, and GIF decode are REAL and dependency-free —
``decode_png`` (zlib + struct, all five scanline filters),
``decode_bmp`` (struct; BI_RGB 24-bit BGR + 8-bit paletted, row
padding and bottom-up order handled), and ``decode_gif`` (full
variable-width LZW, global/local palettes, four-pass de-interlace)
all feed the feature stages, tested on real byte strings, and
``decode_wav`` (struct; RIFF chunk walk; 8/16-bit integer PCM any
channel count, G.711 mu-law/A-law companding expansion, mono IMA
ADPCM) feeds ``wav_features`` the same way, and ``avi_frames`` /
``mp4_frames`` / ``mkv_frames`` walk the RIFF/AVI chunk tree, the
ISO-BMFF sample tables (stsz/stsc/stco/co64/stss), and the EBML
cluster tree (Matroska keyness rules, Xiph/fixed/EBML lace-size
parsing) to sample real video frame payloads without decoding them.
Baseline AND progressive JPEG decode for real too (``llm/jpeg.py``:
DQT/DHT/DRI marker walk, byte-stuffed Huffman entropy decode,
multi-scan successive approximation, dequant + exact IDCT,
chroma-subsampled interleaved MCUs, JFIF YCbCr->RGB) behind
``jpeg_features``; FLAC via ``llm/flac.py``. The remaining surfaces
(12-bit/arithmetic JPEG, mp3/AAC PCM) raise
NotImplementedError because their codecs aren't in this container —
nothing fabricates pseudo-frames;
``extract_blob_features`` computes a deterministic byte-level feature
set (length, first byte, md5) so the Spark-side plumbing — schema,
batch shape, partitioning — is oracle-testable end to end regardless
of codec availability.

Plumbing: every Python step over media runs through one of two Arrow
stages.  Every feature stage is a per-blob row function handed to
``_blob_stage`` — one Arrow-batched ``mapInPandas`` over
``(doc_id, blob)`` that emits ``(doc_id, *row_of(blob))`` under the
stage's schema.  The many-row stages (``video_fingerprint`` here,
``warc_record_table`` and ``pdf_record_table`` in ``warc.py``) go
through ``_blob_rows``: their rows ride one ``array<struct>`` cell per
blob through ``_blob_stage`` and the JVM explodes it.  Every
``synth_*_corpus`` substrate, and ``warc.py``'s archive synthesizers,
is a per-doc blob function handed to ``_synth_stage``.  The poison
policy is stated once, in ``_blob_stage``: a row function that raises
any ``Exception`` yields ``doc_id`` plus NULLs (dead-letter; no rows
for a many-row stage), never a killed task; ``BaseException``
(interrupts, exits) still propagates.  Counting dead letters by
reason would go in that one ``except``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import dedup
from .mp3 import _BITRATES, _RATES, frame_headers, id3v2_end

BLOB_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("content_md5", StringType()),
    ]
)

def _blob_stage(
    media: DataFrame,
    row_of: Callable[[bytes], tuple],
    schema: StructType | str,
) -> DataFrame:
    """The media stage every per-blob Python step runs through (the
    many-row ones by way of ``_blob_rows``): Arrow-batched ``mapInPandas`` over ``(doc_id, blob)``
    emitting ``(doc_id, *row_of(bytes(blob)))`` — one output row per
    input row, columns named by ``schema``.

    The one poison policy: if ``row_of`` raises any ``Exception`` the
    row is ``doc_id`` plus NULLs.  At corpus scale one hostile blob
    must dead-letter, never kill the task and the job with it, and
    crawled bytes reach far more than a codec's own data errors
    (``TypeError``/``RecursionError`` in PDF object walks,
    ``OverflowError``/``AttributeError`` in corrupt JPEG scans), so a
    per-codec list drifts and leaks.  ``BaseException``
    (``KeyboardInterrupt``, ``SystemExit``) is not caught."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    poison = (None,) * (len(names) - 1)

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                try:
                    rows.append((doc_id, *row_of(bytes(blob))))
                except Exception:
                    rows.append((doc_id, *poison))
            yield pd.DataFrame(rows, columns=names)

    return media.select("doc_id", "blob").mapInPandas(_batch, schema=schema)


def _blob_rows(
    media: DataFrame,
    rows_of: Callable[[bytes], list[tuple]],
    schema: str,
) -> DataFrame:
    """The many-row media stage: ``rows_of(blob)`` returns a list of
    rows under ``schema``'s columns after ``doc_id``.  They ride one
    ``array<struct>`` cell per blob through ``_blob_stage``, and the
    JVM explodes it — so a poison blob, whose cell is NULL, gives no
    rows."""
    doc_id, *fields = StructType.fromDDL(schema).fields
    cell = StructType(
        [doc_id, StructField("rows", ArrayType(StructType(fields)))]
    )
    return (
        _blob_stage(media, lambda b: (rows_of(b),), cell)
        .select("doc_id", F.explode("rows").alias("r"))
        .select("doc_id", "r.*")
    )


def _synth_stage(
    docs: DataFrame,
    blob_of: Callable[..., bytes],
    arg_col: str | None = None,
) -> DataFrame:
    """The synthetic-corpus stage every ``synth_*_corpus`` runs
    through: ``(doc_id, blob_of(int(doc_id)))`` per doc — or
    ``blob_of(int(doc_id), value)`` when ``arg_col`` names an input
    column to pass along — Arrow-batched, under the shared
    ``doc_id long, blob binary`` media shape."""
    cols = ["doc_id"] + ([arg_col] if arg_col else [])

    def _batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        blob_of(int(i), *rest)
                        for i, *rest in zip(*(pdf[c] for c in cols))
                    ],
                }
            )

    return docs.select(*cols).mapInPandas(
        _batch, schema="doc_id long, blob binary"
    )


def attach_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize the documents table as a multimodal-shaped table:
    text encoded to an opaque binary column + typed metadata struct.
    (In production the blob is real media; the shape is identical.)"""
    blob = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        "doc_id",
        blob.alias("blob"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(blob).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
        F.col("source"),
    )


def extract_blob_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    This is where a real pipeline decodes images / resamples audio /
    samples video frames per batch. Here the features are a
    deterministic function of the bytes (length, first byte, md5) so
    correctness is oracle-checkable; swap the row function for a real
    decoder without touching the Spark plan.
    """
    import hashlib

    return _blob_stage(
        media,
        lambda b: (len(b), b[0] if b else -1, hashlib.md5(b).hexdigest()),
        BLOB_FEATURE_SCHEMA,
    )


def resize_blobs(media: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """REAL image-resize stage via mapInPandas (Arrow batches in,
    binary column out): every blob is decoded with the in-repo codecs
    (PNG/BMP/GIF/baseline JPEG), nearest-neighbor resampled to
    (width, height), and re-encoded as PNG (``resize_image``) — the
    thumbnail-normalization step of a multimodal training pipeline.
    Poison blobs (unrecognized signature, corrupt stream, unsupported
    subformat) null out instead of killing the task — the same
    dead-letter contract as ``png_features``/``jpeg_features``."""
    return _blob_stage(
        media,
        lambda b: (resize_image(b, width, height),),
        "doc_id long, blob binary",
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


#: Adam7 interlace passes: (x0, y0, dx, dy) per PNG spec 8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, i: int, w: int, h: int, channels: int):
    """Reverse the five scanline filters over h rows of width w
    starting at raw[i]; returns (pixel bytes, next index)."""
    stride = w * channels
    out = bytearray()
    prev = bytearray(stride)
    for _row in range(h):
        if i >= len(raw):
            raise ValueError("PNG scanline data has unexpected length")
        ft = raw[i]
        i += 1
        cur = bytearray(raw[i : i + stride])
        if len(cur) != stride:
            raise ValueError("PNG scanline data has unexpected length")
        i += stride
        if ft == 1:  # Sub
            for x in range(channels, stride):
                cur[x] = (cur[x] + cur[x - channels]) & 255
        elif ft == 2:  # Up
            for x in range(stride):
                cur[x] = (cur[x] + prev[x]) & 255
        elif ft == 3:  # Average
            for x in range(stride):
                left = cur[x - channels] if x >= channels else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 255
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 255
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += cur
        prev = cur
    return bytes(out), i


def decode_png(blob: bytes, max_pixels: int = 1 << 24) -> dict:
    """REAL pure-stdlib PNG decode (zlib + struct): parses IHDR, joins
    IDAT, inflates, and reverses all five scanline filters (None / Sub
    / Up / Average / Paeth). Supports 8-bit gray / RGB / gray+alpha /
    RGBA — the shapes training corpora normalize to — in both
    non-interlaced and Adam7-INTERLACED layouts (each of the seven
    passes is an independently-filtered sub-image scattered back on
    the (x0, y0, dx, dy) grid; empty passes contribute no bytes).

    Returns {"width", "height", "channels", "pixels"} with pixels as
    row-major packed bytes. The per-byte unfilter loop is Python-speed
    — appropriate for the thumbnail/tile sizes that ride an Arrow
    batch; swap in an optimized decoder for production rasters without
    touching the mapInPandas plumbing around it.

    Poison-blob memory contract (r12): header-declared dimensions are
    NEVER trusted for allocation.  ``max_pixels`` (default 16.7M — a
    64 MB RGBA raster, the Arrow-batch budget) bounds w*h before any
    buffer exists; the IDAT inflate runs through a decompressobj
    capped at the dimension-implied byte count, so a corrupt or
    adversarial blob (huge IHDR dims, zlib bomb) raises ValueError in
    O(1) memory instead of OOM-killing an executor — at corpus scale
    a poison blob must dead-letter, not take down the task."""
    import struct
    import zlib

    if bytes(blob[:8]) != _PNG_SIG:
        raise ValueError("not a PNG byte string (bad signature)")
    pos, idat = 8, b""
    w = h = depth = color = interlace = None
    while pos + 8 <= len(blob):
        length, ctype = struct.unpack(">I4s", bytes(blob[pos : pos + 8]))
        pos += 8
        data = bytes(blob[pos : pos + length])
        pos += length + 4  # payload + CRC (CRC not re-verified)
        if ctype == b"IHDR":
            if len(data) < 13:
                raise ValueError("PNG IHDR chunk truncated")
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG has no IHDR chunk")
    if depth != 8 or interlace not in (0, 1) or color not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"decode_png supports 8-bit gray/RGB/LA/RGBA (plain or Adam7); "
            f"got depth={depth} color_type={color} interlace={interlace}"
        )
    channels = _PNG_CHANNELS[color]
    if w == 0 or h == 0:
        raise ValueError("PNG has degenerate dimensions")
    if w * h > max_pixels:
        raise ValueError(
            f"PNG dimensions {w}x{h} exceed the {max_pixels}-pixel "
            f"decode budget (raise max_pixels for larger rasters)"
        )
    stride = w * channels
    if interlace == 0:
        expected = (stride + 1) * h
    else:
        expected = sum(
            ((w - x0 + dx - 1) // dx * channels + 1)
            * ((h - y0 + dy - 1) // dy)
            for x0, y0, dx, dy in _ADAM7
            if w > x0 and h > y0
        )
    try:
        # bounded inflate: a stream inflating past the dimension
        # -implied size is corrupt by definition — stop there instead
        # of buffering a zlib bomb
        dec = zlib.decompressobj()
        raw = dec.decompress(idat, expected + 1)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT stream corrupt: {exc}") from None
    if len(raw) != expected or dec.unconsumed_tail:
        raise ValueError("PNG scanline data has unexpected length")
    if interlace == 0:
        out, _ = _png_unfilter(raw, 0, w, h, channels)
        return {"width": w, "height": h, "channels": channels, "pixels": out}
    out = bytearray(stride * h)
    i = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw == 0 or ph == 0:
            continue
        sub, i = _png_unfilter(raw, i, pw, ph, channels)
        for py in range(ph):
            y = y0 + py * dy
            for px in range(pw):
                x = x0 + px * dx
                out[
                    y * stride + x * channels : y * stride + (x + 1) * channels
                ] = sub[
                    (py * pw + px) * channels : (py * pw + px + 1) * channels
                ]
    if i != len(raw):
        raise ValueError("PNG interlaced data has unexpected length")
    return {"width": w, "height": h, "channels": channels, "pixels": bytes(out)}


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    interlace: bool = False,
) -> bytes:
    """REAL pure-stdlib PNG encoder (zlib + struct), the inverse of
    ``decode_png``: 8-bit gray / gray+alpha / RGB / RGBA, filter-0
    scanlines, valid chunk CRCs; ``interlace=True`` writes the Adam7
    seven-pass layout (each pass its own filtered sub-image, the
    synthesis substrate for the interlaced decode path). ``pixels`` is
    row-major packed bytes (len == width*height*channels) — the exact
    shape the decoders emit, so decode -> transform -> encode chains
    compose losslessly."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color is None:
        raise ValueError(f"encode_png supports 1-4 channels, got {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match width*height*channels")

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color, 0, 0, 1 if interlace else 0
    )
    stride = width * channels
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            for py in range(ph):
                y = y0 + py * dy
                raw += b"\x00"
                for px in range(pw):
                    x = x0 + px * dx
                    raw += pixels[
                        y * stride + x * channels : y * stride
                        + (x + 1) * channels
                    ]
        raw = bytes(raw)
    else:
        raw = b"".join(
            b"\x00" + bytes(pixels[y * stride : (y + 1) * stride])
            for y in range(height)
        )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def decode_image(blob: bytes) -> dict:
    """The one raster dispatcher: bytes to the in-repo decoders by
    magic signature (PNG / BMP / GIF / JPEG / WebP), the path
    ``resize_image`` builds on.  Returns the common
    {"width","height","channels","pixels"} contract (WebP's packed
    ARGB unpacked to channel values); any other signature raises
    ValueError."""
    b = bytes(blob)
    if b[:8] == _PNG_SIG:
        return decode_png(b)
    if b[:2] == b"BM":
        return decode_bmp(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(b)
    if b[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from .webp import decode_webp

        out = decode_webp(b)
        ch = 4 if out["has_alpha"] else 3
        shifts = (16, 8, 0, 24)[:ch]  # ARGB -> R, G, B(, A)
        return {
            "width": out["width"],
            "height": out["height"],
            "channels": ch,
            "pixels": [(p >> k) & 255 for p in out["pixels"] for k in shifts],
        }
    raise ValueError(
        "unrecognized raster signature (PNG/BMP/GIF/JPEG/WebP decode here)"
    )


def resize_image(blob: bytes, width: int, height: int) -> bytes:
    """REAL image resize with zero external dependencies: decode via
    the in-repo codecs (``decode_image``), nearest-neighbor resample
    to (width, height) with floor index mapping sx = x*src_w // width
    (deterministic, oracle-expressible), re-encode as PNG — the
    canonical normalization format (lossless, carries 1-4 channels),
    regardless of input format. Channel count is preserved."""
    if width <= 0 or height <= 0:
        raise ValueError("resize target must be positive")
    img = decode_image(blob)
    sw, sh, ch = img["width"], img["height"], img["channels"]
    px = img["pixels"]  # packed bytes, or a list of ints (JPEG)
    xs = [(x * sw) // width * ch for x in range(width)]
    out = bytearray()
    for y in range(height):
        row = (y * sh) // height * sw * ch
        for sx in xs:
            o = row + sx
            for c in range(ch):
                out.append(px[o + c])
    return encode_png(width, height, ch, bytes(out))


def decode_bmp(blob: bytes) -> dict:
    """REAL pure-stdlib BMP decode (struct only): parses the
    BITMAPFILEHEADER + BITMAPINFOHEADER, supports uncompressed
    (BI_RGB) 24-bit BGR and 8-bit paletted pixels, honors the 4-byte
    row padding and the bottom-up row order (negative height = top-
    down), and returns the same shape as ``decode_png``:
    {"width", "height", "channels", "pixels"} with pixels row-major
    top-down. 24-bit rows are emitted as RGB (BGR swapped); 8-bit
    rows resolve through the palette to RGB unless the palette is
    grayscale, in which case channels=1."""
    import struct

    if bytes(blob[:2]) != b"BM":
        raise ValueError("not a BMP byte string (bad signature)")
    if len(blob) < 54:
        raise ValueError("BMP truncated before headers")
    data_off = struct.unpack("<I", bytes(blob[10:14]))[0]
    hdr_size = struct.unpack("<I", bytes(blob[14:18]))[0]
    w, h_raw = struct.unpack("<ii", bytes(blob[18:26]))
    _planes, bpp, compression = struct.unpack("<HHI", bytes(blob[26:34]))
    if hdr_size < 40:
        raise NotImplementedError(
            f"decode_bmp requires BITMAPINFOHEADER (>=40 bytes); got {hdr_size}"
        )
    if compression != 0:
        raise NotImplementedError(
            f"decode_bmp supports only uncompressed BI_RGB; got compression={compression}"
        )
    if bpp not in (8, 24):
        raise NotImplementedError(
            f"decode_bmp supports 8-bit paletted and 24-bit pixels; got {bpp}"
        )
    top_down = h_raw < 0
    h = abs(h_raw)
    if w <= 0 or h == 0:
        raise ValueError(f"BMP has degenerate dimensions {w}x{h_raw}")
    palette: list[tuple[int, int, int]] = []
    if bpp == 8:
        n_colors = struct.unpack("<I", bytes(blob[46:50]))[0] or 256
        pal_off = 14 + hdr_size
        pal = bytes(blob[pal_off : pal_off + 4 * n_colors])
        if len(pal) < 4 * n_colors:
            raise ValueError("BMP palette truncated")
        palette = [
            (pal[4 * i + 2], pal[4 * i + 1], pal[4 * i])  # stored BGRX
            for i in range(n_colors)
        ]
    gray = bpp == 8 and all(r == g == b for r, g, b in palette)
    channels = 1 if gray else 3
    row_bytes = (w * bpp) // 8
    stride = (row_bytes + 3) & ~3  # rows pad to 4-byte boundaries
    need = data_off + stride * h
    if len(blob) < need:
        raise ValueError("BMP pixel data has unexpected length")
    out = bytearray()
    rows = range(h) if top_down else range(h - 1, -1, -1)
    for r in rows:
        row = bytes(blob[data_off + r * stride : data_off + r * stride + row_bytes])
        if bpp == 24:
            for x in range(0, row_bytes, 3):
                out += bytes((row[x + 2], row[x + 1], row[x]))  # BGR -> RGB
        elif gray:
            out += bytes(palette[v][0] for v in row)
        else:
            for v in row:
                out += bytes(palette[v])
    return {"width": w, "height": h, "channels": channels, "pixels": bytes(out)}


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable-width codes (min+1 .. 12 bits) packed
    LSB-first; CLEAR resets the dictionary, END terminates."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes((i,)) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # missing END: tolerate truncation
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes((i,)) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:  # deferred-clear: table caps at 2^12
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(blob: bytes) -> dict:
    """REAL pure-stdlib GIF decode (struct only): GIF87a/89a header,
    logical screen descriptor, global/local color tables, extension
    blocks skipped, full variable-width LZW decompression of the FIRST
    image frame, and four-pass de-interlacing. Returns the same shape
    as ``decode_png`` / ``decode_bmp``: {"width", "height",
    "channels", "pixels"}, pixels row-major top-down — RGB through the
    palette, or channels=1 when the palette is grayscale. Later frames
    of an animation are ignored (the thumbnail/feature-extraction
    contract wants frame 0; ``sample_frames`` is the video-shaped
    path)."""
    import struct

    if bytes(blob[:6]) not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF byte string (bad signature)")
    if len(blob) < 13:
        raise ValueError("GIF truncated before logical screen descriptor")
    _sw, _sh, packed, _bg, _ar = struct.unpack("<HHBBB", bytes(blob[6:13]))
    pos = 13
    gct: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 7)
        raw = bytes(blob[pos : pos + 3 * n])
        if len(raw) < 3 * n:
            raise ValueError("GIF global color table truncated")
        pos += 3 * n
        gct = [(raw[3 * i], raw[3 * i + 1], raw[3 * i + 2]) for i in range(n)]
    while pos < len(blob):
        b0 = blob[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        if pos + 9 > len(blob):
            raise ValueError("GIF truncated inside image descriptor")
        _l, _t, w, h, ipacked = struct.unpack("<HHHHB", bytes(blob[pos : pos + 9]))
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            raw = bytes(blob[pos : pos + 3 * n])
            if len(raw) < 3 * n:
                raise ValueError("GIF local color table truncated")
            pos += 3 * n
            pal = [(raw[3 * i], raw[3 * i + 1], raw[3 * i + 2]) for i in range(n)]
        if not pal:
            raise ValueError("GIF image has no color table")
        min_code = blob[pos]
        pos += 1
        data = bytearray()
        while pos < len(blob) and blob[pos] != 0:
            ln = blob[pos]
            data += bytes(blob[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decode(bytes(data), min_code)
        if len(idx) < w * h:
            raise ValueError("GIF pixel data has unexpected length")
        idx = idx[: w * h]
        if ipacked & 0x40:  # interlaced: reorder the four passes
            rows: list[bytes | None] = [None] * h
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                for r in range(start, h, step):
                    rows[r] = idx[src * w : (src + 1) * w]
                    src += 1
            idx = b"".join(rows)  # type: ignore[arg-type]
        if idx and max(idx) >= len(pal):
            raise ValueError(
                f"GIF pixel index {max(idx)} exceeds palette size {len(pal)}"
            )
        gray = all(r == g == b for r, g, b in pal)
        if gray:
            pixels = bytes(pal[v][0] for v in idx)
            channels = 1
        else:
            px = bytearray()
            for v in idx:
                px += bytes(pal[v])
            pixels = bytes(px)
            channels = 3
        return {"width": w, "height": h, "channels": channels, "pixels": pixels}
    raise ValueError("GIF contains no image descriptor")


#: The PNG/BMP/GIF feature row: ``_image_row`` under ``doc_id``.
IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("mean_pixel", LongType()),
    ]
)


def png_features(media: DataFrame) -> DataFrame:
    """Real decode in the standard multimodal plumbing: Arrow-batched
    mapInPandas over the binary column, PNG blobs decoded with
    ``decode_png`` into (width, height, channels, mean pixel value);
    non-PNG blobs yield null features instead of failing the batch —
    at corpus scale a poison blob must dead-letter, not kill a task."""
    return _blob_stage(
        media, lambda b: _image_row(decode_png(b)), IMAGE_FEATURE_SCHEMA
    )


def _image_row(img: dict) -> tuple:
    """(width, height, channels, integer mean pixel) of a decoded
    raster — the PNG/BMP/GIF feature row."""
    mean = sum(img["pixels"]) // max(1, len(img["pixels"]))
    return img["width"], img["height"], img["channels"], mean


JPEG_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def jpeg_features(media: DataFrame) -> DataFrame:
    """Real JPEG pixel decode (baseline AND progressive) in the
    standard multimodal plumbing (same contract as ``png_features``):
    Arrow-batched mapInPandas, blobs decoded with
    ``llm.jpeg.decode_jpeg`` into (width, height, channels, mean
    pixel), poison blobs — corrupt streams, arithmetic-coded scans,
    truncated entropy data — null out instead of killing the task
    (dead-letter contract). Mean is a DOUBLE (rounded to 4) because
    decoded pixel means are generally fractional, unlike the
    constant-pixel PNG/BMP/GIF corpora."""
    from .jpeg import decode_jpeg

    def _row(b: bytes) -> tuple:
        img = decode_jpeg(b)
        mean = round(sum(img["pixels"]) / max(1, len(img["pixels"])), 4)
        return img["width"], img["height"], img["channels"], mean

    return _blob_stage(media, _row, JPEG_FEATURE_SCHEMA)


def synth_jpeg_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-JPEG corpus from doc ids (the synthesized-
    real-bytes gate discipline), cycling doc_id % 4 over the forms a
    crawl actually contains:

    - mode 0: GRAYSCALE baseline, solid 8x8 luma blocks — block b
      (row-major) holds base + b with base = (doc_id*17) % 200.
    - mode 1: COLOR 4:2:0 (sampling [(2,2),(1,1),(1,1)]) — same solid
      luma blocks over base = (doc_id*17) % 180 + 10 (headroom so no
      channel clips), Cb solid 128, Cr solid 133.  The chroma DC
      round-trips exactly through box-downsample + replication
      upsample, and rint(1.402*5)=+7, rint(-0.714136*5)=-4,
      rint(0)=0 shift R/G/B off luma by integers, so the
      channel-interleaved mean is EXACTLY luma_mean + 1.
    - mode 2: COLOR 4:2:2 (sampling [(2,1),(1,1),(1,1)]) — Cb solid
      123, Cr solid 128: shifts (0, +2, -9), mean = luma_mean - 7/3.
    - mode 3: GRAYSCALE PROGRESSIVE (SOF2, encode_jpeg_progressive:
      DC first at Al=1 + DC refinement + spectral AC bands with
      their refinement scans) over the mode-0 arithmetic — same
      coefficients, so the decoded mean equals mode 0's formula and
      a decoder that refuses or mis-accumulates multi-scan
      coefficients nulls (or moves) a quarter of the table.

    All blobs go through the full entropy pipeline (flat-8 quant);
    solid blocks make the DC round-trip EXACT (DC = 8*(v-128)
    quantized by 8), so ``jpeg_features`` decodes means that are
    exact rational functions of doc_id."""
    from .jpeg import encode_jpeg, encode_jpeg_progressive

    def _blob(i: int) -> bytes:
        mode = i % 4
        wb, hb = 1 + i % 3, 1 + i % 2
        base = (i * 17) % 200 if mode in (0, 3) else (i * 17) % 180 + 10
        img = [
            [base + (y // 8) * wb + (x // 8) for x in range(8 * wb)]
            for y in range(8 * hb)
        ]
        if mode == 0:
            return encode_jpeg([img])
        if mode == 3:
            return encode_jpeg_progressive([img])
        cb, cr = (128, 133) if mode == 1 else (123, 128)
        solid = lambda v: [[v] * (8 * wb) for _ in range(8 * hb)]
        sampling = (
            [(2, 2), (1, 1), (1, 1)] if mode == 1 else [(2, 1), (1, 1), (1, 1)]
        )
        return encode_jpeg([img, solid(cb), solid(cr)], sampling=sampling)

    return _synth_stage(docs, _blob)


def _ulaw_expand(b: int) -> int:
    """G.711 mu-law companding expansion: one byte -> linear 16-bit."""
    u = ~b & 0xFF
    s = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return -s if u & 0x80 else s


def _alaw_expand(b: int) -> int:
    """G.711 A-law companding expansion: one byte -> linear 16-bit.
    The transmitted sign bit 1 means POSITIVE in A-law (0xD5 -> +8,
    0x55 -> -8) — the opposite of what the even-bit XOR suggests."""
    a = b ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0x0F
    s = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return s if a & 0x80 else -s


# IMA/DVI ADPCM tables (public spec constants). The step table's
# defining property — geometric ~1.1x growth from 7 to 32767 over 89
# entries — is asserted by a unit test so a transcription typo cannot
# survive (a self-consistent encode/decode round-trip alone would).
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def _ima_adpcm_decode(
    data: bytes, block_align: int, channels: int = 1
) -> list[int]:
    """IMA ADPCM block decode, any channel count: each block carries
    one 4-byte header PER CHANNEL (int16 predictor = sample 0, uint8
    step index, reserved), then the nibble stream interleaves in
    4-BYTE WORDS per channel (8 samples of ch0, 8 of ch1, ..., the
    WAVE IMA layout).  Nibbles decode low-first; output is a flat
    channel-interleaved frame list."""
    import struct

    out: list[int] = []
    hdr = 4 * channels
    for bs in range(0, len(data) - block_align + 1, block_align):
        preds, idxs = [], []
        for ch in range(channels):
            pred, index, _ = struct.unpack_from("<hBB", data, bs + 4 * ch)
            preds.append(pred)
            idxs.append(max(0, min(88, index)))
        out.extend(preds)  # frame 0 = the headers' predictors
        body = data[bs + hdr : bs + block_align]

        def _nib(ch: int, nib: int) -> int:
            step = _IMA_STEPS[idxs[ch]]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            p = preds[ch]
            p = p - diff if nib & 8 else p + diff
            preds[ch] = max(-32768, min(32767, p))
            idxs[ch] = max(0, min(88, idxs[ch] + _IMA_INDEX[nib & 7]))
            return preds[ch]

        if channels == 1:
            # mono bodies need no word alignment: plain nibble stream
            for byte in body:
                out.append(_nib(0, byte & 0x0F))
                out.append(_nib(0, byte >> 4))
            continue
        chans: list[list[int]] = [[] for _ in range(channels)]
        for g in range(len(body) // 4):
            ch = g % channels
            for byte in body[g * 4 : g * 4 + 4]:
                chans[ch].append(_nib(ch, byte & 0x0F))
                chans[ch].append(_nib(ch, byte >> 4))
        frames = min(len(c) for c in chans)
        for i in range(frames):
            for ch in range(channels):
                out.append(chans[ch][i])
    return out


def decode_wav(blob: bytes) -> dict:
    """REAL pure-stdlib RIFF/WAVE decode (struct only): walks the
    chunk list (word-aligned), parses the ``fmt `` chunk, and returns
    integer samples for integer PCM (8-bit unsigned offset-128
    centered on return / 16-bit signed LE, any channel count) AND the
    compressed-in-RIFF codecs: G.711 A-law (format 6) and mu-law
    (format 7) companding expansion to linear 16-bit, and IMA/DVI
    ADPCM (format 0x11) block decode at ANY channel count (4-byte
    headers per channel, nibble words interleaved per channel).
    Returns {"sample_rate", "channels", "bits", "n_samples",
    "samples"} with samples as a flat channel-interleaved list of
    centered ints and n_samples = frames per channel. Remaining
    compressed WAVs (mp3-in-RIFF, ...) raise NotImplementedError —
    they need a real codec (bare MPEG-1 Layer III streams decode via
    llm/mp3.py through ``decode_audio``)."""
    import struct

    if bytes(blob[:4]) != b"RIFF" or bytes(blob[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE byte string (bad signature)")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = bytes(blob[pos : pos + 4])
        size = struct.unpack("<I", bytes(blob[pos + 4 : pos + 8]))[0]
        body = bytes(blob[pos + 8 : pos + 8 + size])
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAVE has no fmt/data chunk")
    # Poison-blob contract: a malformed-but-RIFF blob must raise
    # ValueError (dead-letter), never struct.error / ZeroDivisionError
    # (task-killing) — validate the fmt chunk before unpacking it.
    if len(fmt) < 16:
        raise ValueError(f"WAVE fmt chunk truncated ({len(fmt)} bytes)")
    audio_format, channels, rate, _br, block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if block_align == 0:
        raise ValueError("WAVE fmt chunk declares block_align=0")
    if audio_format in (6, 7):  # G.711 A-law / mu-law
        if bits != 8:
            raise ValueError(f"G.711 WAVE declares {bits}-bit samples")
        expand = _alaw_expand if audio_format == 6 else _ulaw_expand
        n_samples = len(data) // block_align
        data = data[: n_samples * block_align]
        samples = [expand(b) for b in data]
    elif audio_format == 0x11:  # IMA/DVI ADPCM, any channel count
        if channels < 1:
            raise ValueError("WAVE fmt declares zero channels")
        if block_align < 4 * channels + (1 if channels == 1 else 4):
            raise ValueError("IMA ADPCM block_align too small")
        samples = _ima_adpcm_decode(data, block_align, channels)
        n_samples = len(samples) // channels
    elif audio_format != 1:
        raise NotImplementedError(
            "decode_wav supports integer PCM (1), G.711 a-law/mu-law "
            f"(6/7), and mono IMA ADPCM (0x11); got {audio_format}"
        )
    else:
        if bits not in (8, 16):
            raise NotImplementedError(
                f"decode_wav supports 8/16-bit PCM; got {bits}"
            )
        n_samples = len(data) // block_align
        data = data[: n_samples * block_align]
        if bits == 8:
            samples = [b - 128 for b in data]  # 8-bit WAV is unsigned
        else:
            samples = list(
                struct.unpack(
                    f"<{len(data) // 2}h", data[: (len(data) // 2) * 2]
                )
            )
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "n_samples": n_samples,
        "samples": samples,
    }


WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("rms", LongType()),
    ]
)


def wav_features(media: DataFrame) -> DataFrame:
    """Real audio decode in the standard multimodal plumbing:
    Arrow-batched mapInPandas over the binary column, PCM blobs
    decoded with ``decode_wav`` into (sample_rate, channels,
    n_samples, duration_ms, integer RMS over all channels); non-WAV
    or compressed blobs yield null features instead of failing the
    batch — poison media dead-letters, it never kills a task."""
    return _blob_stage(
        media, lambda b: _pcm_row(decode_wav(b)), WAV_FEATURE_SCHEMA
    )


def _pcm_row(w: dict) -> tuple:
    """(sample_rate, channels, n_samples, duration_ms, integer RMS over
    all channels) of a decoded recording — the WAV/FLAC feature row."""
    import math

    s = w["samples"]
    rms = int(math.sqrt(sum(x * x for x in s) / len(s))) if s else 0
    return (
        w["sample_rate"],
        w["channels"],
        w["n_samples"],
        w["n_samples"] * 1000 // max(1, w["sample_rate"]),
        rms,
    )


def bmp_features(media: DataFrame) -> DataFrame:
    """``png_features``'s BMP sibling: Arrow-batched mapInPandas over
    the binary column, BMP blobs decoded with ``decode_bmp`` into
    (width, height, channels, mean pixel value); poison blobs yield
    null features, never a task failure."""
    return _blob_stage(
        media, lambda b: _image_row(decode_bmp(b)), IMAGE_FEATURE_SCHEMA
    )


def synth_wav_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic RIFF/WAVE media corpus from doc ids: every blob is
    a REAL wav file (struct-encoded PCM square wave) whose parameters —
    sample rate, channel count, bit depth, amplitude, frame count — are
    integer functions of doc_id, so the features ``wav_features``
    decodes back out are exactly SQL-predictable (square-wave RMS ==
    amplitude).  This is what lets the real decode path sit behind an
    oracle gate instead of unit-only coverage."""
    import struct

    def _blob(i: int) -> bytes:
        rate = 8000 * (1 + i % 3)
        channels = 1 + i % 2
        bits = 8 if i % 4 < 2 else 16
        amp = 50 + i % 70  # <= 119: fits 8-bit PCM
        frames = 100 + (i % 5) * 30
        n = frames * channels
        samples = [amp if s % 2 == 0 else -amp for s in range(n)]
        if bits == 8:
            data = bytes(s + 128 for s in samples)
        else:
            data = struct.pack(f"<{n}h", *samples)
        block = channels * bits // 8
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
        return _riff_wave(fmt, data)

    return _synth_stage(docs, _blob)


def _riff_wave(fmt: bytes, data: bytes) -> bytes:
    """A RIFF/WAVE file of one ``fmt `` chunk and one ``data`` chunk —
    the container every synthesized WAV corpus writes."""
    import struct

    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_audio(blob: bytes) -> dict:
    """Audio decode dispatch by container magic — the audio sibling of
    ``decode_image`` / ``sample_frames``: RIFF/WAVE routes to
    ``decode_wav`` (integer PCM, G.711, mono IMA ADPCM), fLaC to
    ``llm.flac.decode_flac`` (all subframe types incl. LPC), MPEG
    audio sync / ID3v2 to ``llm.mp3.decode_mp3`` (MPEG-1 Layer III:
    side info, bit reservoir, the embedded huffman registry,
    requantization, IMDCT hybrid filterbank, polyphase synthesis —
    unsupported generations/tables refuse by name inside, which
    dead-letters in the batch features). All return the same
    {"sample_rate", "channels", "bits", "n_samples", "samples"}
    dict; anything else raises NotImplementedError."""
    head = bytes(blob[:4])
    if head == b"RIFF":
        return decode_wav(blob)
    if head == b"fLaC":
        from .flac import decode_flac

        return decode_flac(blob)
    if head == b"OggS":
        raise NotImplementedError(
            "Ogg Opus/Vorbis PCM decode needs the codecs' MDCT "
            "codebooks; ogg_stream_info gives the codec/duration/"
            "channel audit without one"
        )
    if len(blob) >= 2 and blob[0] == 0xFF and (blob[1] & 0xF6) == 0xF0:
        # ADTS AAC: 12-bit sync with layer bits 00 — disjoint from the
        # MPEG-1/2 Layer III sync (layer bits 01) the branch below
        # takes.  Spectral decode shares mp3's printed-codebook wall;
        # aac_stream_info gives the header audit.
        raise NotImplementedError(
            "ADTS AAC PCM decode needs the spectral huffman codebooks; "
            "aac_stream_info gives the duration/rate/profile audit "
            "without one"
        )
    if head[:3] == b"ID3" or (len(blob) >= 2 and blob[0] == 0xFF
                              and (blob[1] & 0xE0) == 0xE0):
        from .mp3 import decode_mp3

        return decode_mp3(blob)
    raise NotImplementedError(
        "decode_audio handles RIFF/WAVE, FLAC and MPEG-1 Layer III; other "
        "containers need a codec, which plugs in as a _blob_stage row "
        "function — the Spark plumbing is container-agnostic"
    )


def pdf_text_features(media: DataFrame) -> DataFrame:
    """REAL PDF text extraction in the standard multimodal plumbing
    (llm/pdf.py:extract_pdf_text — object scan, page tree, raw +
    FlateDecode content streams, the text-operator walk):
    Arrow-batched mapInPandas into (doc_id, n_pages, n_chars, text)
    with pages joined by form-feed; poison blobs — non-PDF bytes,
    encrypted documents, non-Flate filters, corrupt zlib — null out
    instead of killing the task (dead-letter contract).  /ObjStm
    -packed documents (PDF 1.5) unpack for real.  Malformed crawled
    PDFs reach ``TypeError`` (ObjStm ``int(None)``) and
    ``RecursionError`` — the breadth ``_blob_stage``'s policy covers."""
    from .pdf import extract_pdf_text

    def _row(b: bytes) -> tuple:
        out = extract_pdf_text(b)
        return out["n_pages"], len(out["text"]), out["text"]

    return _blob_stage(
        media, _row, "doc_id long, n_pages long, n_chars long, text string"
    )


def synth_pdf_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-PDF corpus from doc ids (the synthesized-
    real-bytes gate discipline): doc i gets 1 + i % 3 pages, page q
    gets 2 + (i + q) % 2 lines, line j reads
    ``[%05d:%d:%d] word%02d.`` % (i, q, j, (i*7 + q*3 + j) % 100) —
    every extracted character is an arithmetic function of
    (i, q, j).  Even docs FlateDecode-compress their content streams,
    odd docs store them raw, so the oracle gates both stream paths
    plus the xref/page-tree/text-operator walk.  Every doc with
    i % 3 == 2 is written as a Type0/Identity-H CID document
    (sequential non-codepoint CIDs + a /ToUnicode CMap with bfrange
    folding) — extraction matches the oracle only if the CMap is
    genuinely parsed and applied at show time.  Every doc with
    i % 4 == 3 is ENCRYPTED (standard security handler, empty user
    password), cycling all three supported generations: RC4 V1/R2
    (the legacy-crawl shape, i % 16 == 3), AES-256 V5/R6 (the PDF 2.0
    shape, i % 16 == 11), and AES-128 /AESV2 V4/R4 (i % 8 == 7) —
    real /O and /U (and R6 /UE) entries, per-object stream keys,
    per-stream IVs — extraction matches only if every decryption
    path genuinely runs."""
    from .pdf import encode_pdf

    def _blob(i: int) -> bytes:
        pages = [
            [
                "[%05d:%d:%d] word%02d." % (i, q, j, (i * 7 + q * 3 + j) % 100)
                for j in range(2 + (i + q) % 2)
            ]
            for q in range(1 + i % 3)
        ]
        return encode_pdf(
            pages,
            compress=i % 2 == 0,
            type0=i % 3 == 2,
            encrypt="" if i % 4 == 3 else None,
            encrypt_version=4 if i % 8 == 7 else 5 if i % 16 == 11 else 2,
        )

    return _synth_stage(docs, _blob)


def webp_features(media: DataFrame) -> DataFrame:
    """REAL WebP decode in the standard multimodal plumbing
    (llm/webp.py — full VP8L: prefix codes, LZ77 + color cache, all
    four transforms, bundled palettes): Arrow-batched mapInPandas into
    (doc_id, width, height, fmt, has_alpha, sum_red, sum_green).
    Lossy VP8 blobs keep their header audit (dims/format via
    ``webp_info``) with NULL pixel sums — the honest-refusal contract;
    poison blobs null out entirely (dead-letter contract)."""
    from .webp import decode_webp, webp_info

    def _row(b: bytes) -> tuple:
        info = webp_info(b)
        try:
            out = decode_webp(b)
        except NotImplementedError:
            return (
                info["width"], info["height"], info["format"],
                int(info.get("has_alpha", False)), None, None,
            )
        px = out["pixels"]
        return (
            out["width"],
            out["height"],
            out["format"],
            int(out["has_alpha"]),
            sum((p >> 16) & 0xFF for p in px),
            sum((p >> 8) & 0xFF for p in px),
        )

    return _blob_stage(
        media,
        _row,
        "doc_id long, width long, height long, fmt string, "
        "has_alpha long, sum_red long, sum_green long",
    )


def synth_webp_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-VP8L corpus from doc ids, cycling every
    encoder path by doc_id % 5: (0) row-constant pixels under dist-1
    RLE backward references, (1) the same gradient under
    SUBTRACT_GREEN, (2) a 2-color checkerboard under a bundled
    COLOR_INDEXING palette, (3) the gradient under a uniform
    PREDICTOR (mode 2 = top), (4) the gradient under a uniform COLOR
    transform (g2r=16, g2b=8, r2b=4).  Every pixel is an arithmetic
    function of (doc_id, x, y), so DuckDB predicts the channel sums
    exactly — a decoder that mishandles any transform, the bundling,
    or the prefix-code headers moves the sums."""
    from .webp import encode_webp_lossless

    def _blob(i: int) -> bytes:
        w, h = 4 + i % 5, 3 + i % 3
        c = i % 5
        if c == 0:
            px = [
                0xFF000000
                | ((i % 100 + y) << 16)
                | ((i % 90 + 2 * y) << 8)
                | (i * 7 % 128)
                for y in range(h)
                for _ in range(w)
            ]
            return encode_webp_lossless(px, w, h, rle=True)
        if c == 2:
            c0 = 0xFF000000 | ((10 + i % 50) << 16) | ((20 + i % 60) << 8) | 5
            c1 = 0xFF000000 | ((200 - i % 50) << 16) | ((150 - i % 60) << 8) | 99
            px = [
                c0 if (x + y) % 2 == 0 else c1
                for y in range(h)
                for x in range(w)
            ]
            return encode_webp_lossless(px, w, h, transform="palette")
        px = [
            0xFF000000
            | ((i % 100 + x + y) << 16)
            | ((i % 90 + 2 * x + y) << 8)
            | ((i * 7 % 128 + x) & 0xFF)
            for y in range(h)
            for x in range(w)
        ]
        tf = {
            1: "subtract_green",
            3: ("predictor", 2, 2),
            4: ("color", 16, 8, 4, 2),
        }[c]
        return encode_webp_lossless(px, w, h, transform=tf)

    return _synth_stage(docs, _blob)


def flac_features(media: DataFrame) -> DataFrame:
    """Real FLAC decode in the standard multimodal plumbing (same
    output contract as ``wav_features``): Arrow-batched mapInPandas,
    blobs decoded with ``llm.flac.decode_flac`` (frame/subframe walk,
    partitioned-Rice residuals, fixed predictors, stereo
    decorrelation) into (sample_rate, channels, n_samples,
    duration_ms, integer RMS); poison blobs — truncated
    bitstreams, non-FLAC bytes — null out (dead-letter contract)."""
    from .flac import decode_flac

    return _blob_stage(
        media, lambda b: _pcm_row(decode_flac(b)), WAV_FEATURE_SCHEMA
    )


def synth_flac_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-FLAC corpus from doc ids: mono square waves
    (amp, -amp alternating) Rice-coded through a FIXED order-1
    subframe (llm/flac.py:encode_flac) — the full entropy path, not
    just CONSTANT subframes — so ``flac_features`` decodes an integer
    RMS exactly equal to the amplitude and every feature is an
    arithmetic function of doc_id."""
    from .flac import encode_flac

    def _blob(i: int) -> bytes:
        amp = 50 + i % 70
        frames = 100 + (i % 5) * 30
        sig = [amp if s % 2 == 0 else -amp for s in range(frames)]
        return encode_flac([sig], sample_rate=8000 * (1 + i % 3), fixed_order=1)

    return _synth_stage(docs, _blob)


def synth_g711_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic G.711-compressed RIFF/WAVE corpus from doc ids:
    even docs get mu-law (format 7), odd docs A-law (format 6), every
    payload a CONSTANT companded byte v = doc_id % 256 — so the
    expanded linear samples all share one magnitude and the integer
    RMS ``wav_features`` computes equals |expand(v)| exactly, which
    DuckDB reproduces with the same bit arithmetic. This gates the
    companding tables themselves, not just the RIFF walk."""
    import struct

    def _blob(i: int) -> bytes:
        fmt_tag = 7 if i % 2 == 0 else 6
        fmt = struct.pack("<HHIIHH", fmt_tag, 1, 8000, 8000, 1, 8)
        return _riff_wave(fmt, bytes([i % 256]) * (80 + (i % 5) * 20))

    return _synth_stage(docs, _blob)


def synth_bmp_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic BMP media corpus from doc ids: every blob is a
    REAL 8-bit paletted grayscale BMP (struct-encoded, 4-byte row
    padding, full 256-entry palette) of constant pixel value, so
    ``bmp_features`` decodes width/height/channels/mean back out as
    exact integer functions of doc_id."""
    import struct

    palette = b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))

    def _blob(i: int) -> bytes:
        w = 4 + i % 8
        h = 3 + i % 5
        v = (i * 7) % 256
        stride = (w + 3) & ~3
        pixels = (bytes([v]) * w + b"\x00" * (stride - w)) * h
        data_off = 14 + 40 + len(palette)
        filehdr = b"BM" + struct.pack(
            "<IHHI", data_off + len(pixels), 0, 0, data_off
        )
        infohdr = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pixels), 0, 0, 256, 0
        )
        return filehdr + infohdr + palette + pixels

    return _synth_stage(docs, _blob)


def gif_features(media: DataFrame) -> DataFrame:
    """``png_features``'s GIF sibling: Arrow-batched mapInPandas,
    GIF blobs decoded with ``decode_gif`` (full LZW) into (width,
    height, channels, mean pixel); poison blobs null out."""
    return _blob_stage(
        media, lambda b: _image_row(decode_gif(b)), IMAGE_FEATURE_SCHEMA
    )


def synth_png_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic PNG media corpus from doc ids: real zlib-deflated
    8-bit grayscale PNGs (filter 0 scanlines, valid CRCs) of constant
    pixel value — ``png_features`` decodes width/height/channels/mean
    back out as exact integer functions of doc_id."""
    import struct
    import zlib

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def _blob(i: int) -> bytes:
        w = 4 + i % 6
        h = 2 + i % 4
        v = (i * 11) % 256
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        raw = (b"\x00" + bytes([v]) * w) * h
        return (
            _PNG_SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b"")
        )

    return _synth_stage(docs, _blob)


def synth_gradient_png_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic GRADIENT PNG corpus from doc ids (the resize
    gate's substrate): 8-bit grayscale, pixel(x, y) = base + x + y
    with base = (doc_id*7) % 200 and dims (8 + doc_id%5*4) x
    (6 + doc_id%3*2) — max value 231, no mod wrap, so a
    nearest-neighbor resample's pixel values (and their integer mean)
    are exact arithmetic functions of doc_id. A constant-pixel corpus
    could not certify the resample index map; a gradient can."""

    def _blob(i: int) -> bytes:
        w = 8 + (i % 5) * 4
        h = 6 + (i % 3) * 2
        base = (i * 7) % 200
        px = bytes(base + x + y for y in range(h) for x in range(w))
        return encode_png(w, h, 1, px)

    return _synth_stage(docs, _blob)


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Minimal GIF-variant LZW encoder: literal codes only, mirroring
    the decoder's table growth (one append per code after the first)
    so the emitted code WIDTH tracks the decoder's, with CLEAR resets
    before the width would exceed 12.  Valid for any decoder."""
    clear = 1 << min_code_size
    end = clear + 1
    acc = nbits = 0
    out = bytearray()
    width = min_code_size + 1
    table_len = clear + 2

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 255)
            acc >>= 8
            nbits -= 8

    emit(clear)
    first = True
    for v in indices:
        emit(v)
        if first:
            first = False
        else:
            table_len += 1
        if table_len == (1 << width):
            if width < 12:
                width += 1
            else:
                emit(clear)
                width = min_code_size + 1
                table_len = clear + 2
                first = True
    emit(end)
    if nbits:
        out.append(acc & 255)
    return bytes(out)


def synth_gif_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic GIF media corpus from doc ids: real GIF89a blobs
    (global 256-entry grayscale palette, genuine variable-width LZW
    pixel streams) of constant index value — ``gif_features`` decodes
    width/height/channels/mean back out exactly."""
    import struct

    palette = b"".join(bytes((i, i, i)) for i in range(256))

    def _blob(i: int) -> bytes:
        w = 3 + i % 7
        h = 2 + i % 3
        v = (i * 13) % 256
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0)  # 256-color GCT
        out += palette
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes((8,))  # min LZW code size
        data = _gif_lzw_encode(bytes([v]) * (w * h), 8)
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00\x3b"
        return bytes(out)

    return _synth_stage(docs, _blob)


FRAME_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("total_frame_bytes", LongType()),
        StructField("first_frame_byte", LongType()),
    ]
)


def video_frame_features(media: DataFrame, max_frames: int = 8) -> DataFrame:
    """Frame-sampling summary through the standard multimodal plumbing:
    ``sample_frames`` demuxes each blob (RIFF/AVI chunk walk, ISO-BMFF
    sample tables, or EBML/Matroska cluster walk) and the stage
    reports frame count, total payload bytes, and the first frame's
    first byte; undemuxable blobs null out (dead-letter contract)."""

    def _row(b: bytes) -> tuple:
        frames = sample_frames(b, max_frames=max_frames)
        return (
            len(frames),
            sum(len(f) for f in frames),
            frames[0][0] if frames and frames[0] else None,
        )

    return _blob_stage(media, _row, FRAME_FEATURE_SCHEMA)


def synth_video_corpus(
    docs: DataFrame, shared_patterns: int | None = None
) -> DataFrame:
    """Deterministic video-container corpus from doc ids: even ids get
    a real RIFF/AVI (LIST movi of 00dc chunks), odd ids a real ISO-BMFF
    mp4 (ftyp + mdat + moov with stsz/stsc/stco tables; no stss, so
    every sample is sync) — SAME frame payload formula for both, so one
    oracle covers both container walks.  Frame j of doc i is
    bytes([(b + j) % 256]) * (10 + j), frame count 3 + i % 6, with
    b = i (default: all videos distinct) or i % shared_patterns (the
    near-dup substrate: same-pattern docs share every common-index
    frame ACROSS container types, different patterns share none)."""
    import struct

    def _avi(frames: list[bytes]) -> bytes:
        movi = b"movi"
        for f in frames:
            movi += b"00dc" + struct.pack("<I", len(f)) + f + (b"\x00" if len(f) & 1 else b"")
        hdrl = b"hdrl"
        body = b"AVI " + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        body += b"LIST" + struct.pack("<I", len(movi)) + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def _mp4(frames: list[bytes]) -> bytes:
        def box(t: bytes, b: bytes) -> bytes:
            return struct.pack(">I", 8 + len(b)) + t + b

        def full(t: bytes, b: bytes) -> bytes:
            return box(t, b"\x00" * 4 + b)

        ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        payload = b"".join(frames)
        mdat = box(b"mdat", payload)
        off = len(ftyp) + 8
        n = len(frames)
        sizes = [len(f) for f in frames]
        offs = [off + sum(sizes[:j]) for j in range(n)]
        stsz = full(b"stsz", struct.pack(">II", 0, n) + struct.pack(f">{n}I", *sizes))
        stsc = full(b"stsc", struct.pack(">I", 1) + struct.pack(">III", 1, 1, 1))
        stco = full(b"stco", struct.pack(">I", n) + struct.pack(f">{n}I", *offs))
        hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")
        minf = box(b"minf", box(b"stbl", stsz + stsc + stco))
        moov = box(b"moov", box(b"trak", box(b"mdia", hdlr + minf)))
        return ftyp + mdat + moov

    def _blob(i: int) -> bytes:
        b = i if shared_patterns is None else i % shared_patterns
        # the frame byte enters mod 256, so b alone wraps at 256
        # distinct videos; the (b // 256) j-multiplier spread keeps
        # distinct videos growing with the pattern count (~65k) — ZERO
        # effect for b < 256, so the oracle substrates are
        # bit-identical (r12 scale-leg fix)
        frames = [
            bytes([(b + j * (1 + 3 * (b // 256))) % 256]) * (10 + j)
            for j in range(3 + i % 6)
        ]
        return _avi(frames) if i % 2 == 0 else _mp4(frames)

    return _synth_stage(docs, _blob)


def synth_mkv_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic Matroska corpus from doc ids: a real EBML stream
    (EBML header element, Segment, one Cluster with a Timestamp and
    keyframe SimpleBlocks — marker-bit varint ids and minimal-length
    size varints throughout), SAME frame payload formula as
    ``synth_video_corpus`` so the mkv walk is gated by the same
    arithmetic oracle: frame j of doc i is
    bytes([(i + j) % 256]) * (10 + j), frame count 3 + i % 6.

    Frames PACK by doc_id % 4 so the oracle also pins lace-size
    parsing (the decoded frames must be identical in all four):
    mode 0 one plain block per frame, mode 1 ONE Xiph-laced block
    (255-continued size bytes), mode 2 ONE EBML-laced block (vint
    first size + signed-vint deltas; the +1/frame growth encodes as
    delta vints), mode 3 one fixed-laced block per frame (lace-count
    byte present, count 1 — the degenerate fixed form some muxers
    emit; multi-frame fixed lacing needs equal sizes, which the
    growth formula never produces, and is unit-pinned instead)."""

    def _size(n: int) -> bytes:
        for ln in range(1, 9):
            if n < (1 << (7 * ln)) - 1:
                return (n | (1 << (7 * ln))).to_bytes(ln, "big")
        raise ValueError("EBML size too large")

    def _elem(eid: bytes, body: bytes) -> bytes:
        return eid + _size(len(body)) + body

    def _xiph_block(frames: list[bytes]) -> bytes:
        sizes = b""
        for f in frames[:-1]:
            s = len(f)
            sizes += b"\xff" * (s // 255) + bytes([s % 255])
        body = (
            b"\x81\x00\x00"
            + bytes([0x80 | 0x02, len(frames) - 1])
            + sizes
            + b"".join(frames)
        )
        return _elem(b"\xa3", body)

    def _ebml_lace_block(frames: list[bytes]) -> bytes:
        # first size as a plain vint; each next as a signed-vint
        # delta (1-byte form: stored = delta + 63, marker 0x80)
        sizes = _size(len(frames[0]))
        for a, b in zip(frames, frames[1:-1]):
            delta = len(b) - len(a)
            if not -63 <= delta <= 63:
                raise ValueError("delta too wide for 1-byte signed vint")
            sizes += bytes([0x80 | (delta + 63)])
        body = (
            b"\x81\x00\x00"
            + bytes([0x80 | 0x06, len(frames) - 1])
            + sizes
            + b"".join(frames)
        )
        return _elem(b"\xa3", body)

    def _mkv(frames: list[bytes], mode: int) -> bytes:
        header = _elem(_EBML_SIG, _elem(b"\x42\x86", b"\x01"))  # EBMLVersion
        if mode == 1 and len(frames) > 1:
            blocks = _xiph_block(frames)
        elif mode == 2 and len(frames) > 1:
            blocks = _ebml_lace_block(frames)
        elif mode == 3:
            blocks = b"".join(
                _elem(b"\xa3", b"\x81\x00\x00" + bytes([0x80 | 0x04, 0]) + f)
                for f in frames
            )
        else:
            blocks = b"".join(
                _elem(b"\xa3", b"\x81" + b"\x00\x00" + b"\x80" + f)
                for f in frames
            )
        cluster = _elem(b"\x1f\x43\xb6\x75", _elem(b"\xe7", b"\x00") + blocks)
        return header + _elem(b"\x18\x53\x80\x67", cluster)

    def _blob(i: int) -> bytes:
        frames = [bytes([(i + j) % 256]) * (10 + j) for j in range(3 + i % 6)]
        return _mkv(frames, i % 4)

    return _synth_stage(docs, _blob)


def mp3_stream_info(blob: bytes) -> dict:
    """REAL pure-stdlib MPEG Layer III header walk — the corpus-QA
    primitive for audio duration/bitrate audits WITHOUT a PCM decode
    (the jpeg_dimensions pattern): frame-by-frame sync parse (11-bit
    sync, version/layer bits, per-version bitrate + sample-rate
    tables, padding bit). MPEG-1 frames carry 1152 samples and step
    144*bitrate/rate + pad bytes; MPEG-2 and MPEG-2.5 carry 576 and
    step 72*bitrate/rate + pad. Returns {"n_frames", "sample_rate",
    "bitrate_kbps" (mean, rounded — VBR streams vary per frame),
    "duration_ms", "vbr"}. MPEG-1 Layer III payloads PCM-decode via
    llm/mp3.py (``decode_audio``); this walk stays the cheap
    header-only audit that also covers MPEG-2/2.5 and the huffman
    tables outside mp3.py's embedded registry.  The frames come from
    ``llm.mp3.frame_headers``, the walk the decoder runs too, so a
    truncated final frame raises here as it does there."""
    rate = spf = None  # samples per frame (version-fixed)
    bitrates = []
    for _pos, h, br, sr, _len in frame_headers(bytes(blob)):
        samples = 1152 if (h >> 19) & 3 == 3 else 576
        if rate is None:
            rate, spf = sr, samples
        elif sr != rate or samples != spf:
            raise ValueError("sample rate/version changes mid-stream")
        bitrates.append(br)
    n_frames = len(bitrates)
    return {
        "n_frames": n_frames,
        "sample_rate": rate,
        "bitrate_kbps": round(sum(bitrates) / n_frames),
        "duration_ms": n_frames * spf * 1000 // rate,
        "vbr": len(set(bitrates)) > 1,
    }


def mp3_features(media: DataFrame) -> DataFrame:
    """mp3 header-walk features in the standard multimodal plumbing:
    (n_frames, sample_rate, bitrate_kbps, duration_ms, vbr) per blob;
    poison blobs null out (dead-letter contract)."""

    def _row(b: bytes) -> tuple:
        m = mp3_stream_info(b)
        return (m["n_frames"], m["sample_rate"], m["bitrate_kbps"],
                m["duration_ms"], m["vbr"])

    return _blob_stage(
        media,
        _row,
        "doc_id long, n_frames long, sample_rate long, "
        "bitrate_kbps long, duration_ms long, vbr boolean",
    )


def synth_mp3_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic mp3 corpus from doc ids: REAL MPEG-1 Layer III
    frame headers (sync, version/layer, bitrate index cycling through
    two values -> VBR for odd docs, padding bit 0) with silent payload
    bytes sized by the spec frame-length formula, behind an ID3v2 tag
    for odd docs (synchsafe size walk exercised). Payloads are zeros —
    the header WALK is what's real and what the oracle predicts;
    nothing pretends to decode them."""

    def _blob(i: int) -> bytes:
        rate_idx = i % 3  # 44100/48000/32000
        rate = _RATES[3][rate_idx]
        out = bytearray()
        if i % 2 == 1:
            out += _id3v2(b"TAGDATA!" * (1 + i % 3))
        for j in range(3 + i % 5):
            br_idx = 9 if (i % 2 == 1 and j % 2 == 1) else 8
            br = _BITRATES[br_idx]
            h = (0x7FF << 21) | (3 << 19) | (1 << 17)
            h |= br_idx << 12 | rate_idx << 10
            flen = 144 * br * 1000 // rate
            out += h.to_bytes(4, "big") + b"\x00" * (flen - 4)
        return bytes(out)

    return _synth_stage(docs, _blob)


def _id3v2(tag: bytes) -> bytes:
    """An ID3v2.3 header (synchsafe size) in front of ``tag`` — the
    prefix the synthesized mp3/AAC corpora put on some docs."""
    sz = len(tag)
    ss = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F,
                sz & 0x7F])
    return b"ID3\x03\x00\x00" + ss + tag


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32 (RFC 3533): polynomial 0x04C11DB7, MSB-first,
    init 0, no reflection, no final xor — formula-derived at call
    time, nothing transcribed."""
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000
                   else crc << 1) & 0xFFFFFFFF
    return crc


def ogg_stream_info(blob: bytes) -> dict:
    """REAL pure-stdlib Ogg container walk (RFC 3533 page layout) —
    the third leg of the audio-audit family next to
    ``mp3_stream_info`` and ``aac_stream_info``: page-by-page parse
    ("OggS" capture, version 0, header-type flags, 64-bit granule
    position, serial, sequence, segment lacing table), codec
    identification from the BOS packet ("OpusHead" per RFC 7845 —
    channel count, pre-skip, 48 kHz granule clock; "\\x01vorbis" ID
    header — channels + rate), and duration from the LAST page's
    granule position (minus pre-skip for Opus).  Returns {"codec",
    "n_pages", "channels", "sample_rate", "duration_ms", "serial"}.
    Page CRCs are consumed, not verified (the FLAC/mp3 convention —
    the walk audits structure, corruption surfaces as a parse error
    or a feature-stage dead-letter).  PCM decode is the honest
    boundary (both codecs' MDCT codebooks are printed spec data —
    the mp3 wall, llm/mp3.py); chained/multiplexed streams, other
    codecs, and non-zero stream-structure versions refuse by name."""
    blob = bytes(blob)
    pos = 0
    n_pages = 0
    serial = None
    codec = channels = rate = None
    pre_skip = 0
    last_granule = 0
    saw_eos = False
    while pos + 27 <= len(blob):
        if blob[pos : pos + 4] != b"OggS":
            if n_pages == 0:
                raise ValueError("not an Ogg byte string (bad capture)")
            raise ValueError("lost Ogg page capture mid-stream")
        if blob[pos + 4] != 0:
            raise NotImplementedError(
                f"Ogg stream-structure version {blob[pos + 4]} "
                f"(only version 0 exists today)"
            )
        htype = blob[pos + 5]
        granule = int.from_bytes(blob[pos + 6 : pos + 14], "little",
                                 signed=True)
        ser = int.from_bytes(blob[pos + 14 : pos + 18], "little")
        nseg = blob[pos + 26]
        seg_table = blob[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            raise ValueError("truncated Ogg segment table")
        body_len = sum(seg_table)
        body = blob[pos + 27 + nseg : pos + 27 + nseg + body_len]
        if len(body) < body_len:
            raise ValueError("truncated Ogg page body")
        if serial is None:
            serial = ser
        elif ser != serial:
            raise NotImplementedError(
                "multiplexed/chained Ogg (second bitstream serial) "
                "needs per-stream demux; single streams walk here"
            )
        if htype & 0x02:  # BOS
            if n_pages:
                raise NotImplementedError(
                    "chained Ogg (BOS after the first page) needs "
                    "stream re-initialization"
                )
            if body[:8] == b"OpusHead":
                if len(body) < 19:
                    raise ValueError("truncated OpusHead packet")
                codec = "opus"
                channels = body[9]
                pre_skip = int.from_bytes(body[10:12], "little")
                rate = 48000  # Opus granules ALWAYS run at 48 kHz
            elif body[:7] == b"\x01vorbis":
                if len(body) < 30:
                    raise ValueError("truncated Vorbis ID header")
                codec = "vorbis"
                channels = body[11]
                rate = int.from_bytes(body[12:16], "little")
                if rate == 0:
                    raise ValueError("Vorbis ID header declares rate 0")
            else:
                raise NotImplementedError(
                    "only Opus and Vorbis BOS packets identify here; "
                    "other Ogg codecs (theora, flac-in-ogg, speex) "
                    "need their own ID parsers"
                )
        if granule >= 0:  # -1 marks a page with no finished packet
            last_granule = granule
        if htype & 0x04:
            saw_eos = True
        n_pages += 1
        pos += 27 + nseg + body_len
        if saw_eos:
            break
    if n_pages == 0:
        raise ValueError("not an Ogg byte string (no page capture)")
    if codec is None:
        raise ValueError("Ogg stream has no BOS identification page")
    samples = max(0, last_granule - (pre_skip if codec == "opus" else 0))
    return {
        "codec": codec,
        "n_pages": n_pages,
        "channels": channels,
        "sample_rate": rate,
        "duration_ms": samples * 1000 // rate,
        "serial": serial,
    }


def ogg_features(media: DataFrame) -> DataFrame:
    """Ogg walk features in the standard multimodal plumbing:
    (codec, n_pages, channels, sample_rate, duration_ms) per blob;
    poison blobs null out (dead-letter contract)."""

    def _row(b: bytes) -> tuple:
        m = ogg_stream_info(b)
        return (m["codec"], m["n_pages"], m["channels"], m["sample_rate"],
                m["duration_ms"])

    return _blob_stage(
        media,
        _row,
        "doc_id long, codec string, n_pages long, channels long, "
        "sample_rate long, duration_ms long",
    )


def synth_ogg_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic Ogg corpus from doc ids: REAL RFC 3533 pages
    (correct lacing tables, BOS/EOS flags, running granule positions,
    spec CRC-32 over the zero-CRC page image) carrying an OpusHead
    (even ids; pre-skip = 312 + i %% 7) or a Vorbis ID header (odd
    ids; rate cycling 48/44.1/32 kHz), then 1 + i %% 4 audio pages of
    opaque payload whose granule positions advance 960 * (2 + i %% 3)
    samples per page — duration is an arithmetic function of i that
    the walk must reproduce through the page chain."""

    def page(serial, seq, granule, body, htype):
        head = (b"OggS" + bytes([0, htype])
                + granule.to_bytes(8, "little", signed=True)
                + serial.to_bytes(4, "little")
                + seq.to_bytes(4, "little")
                + b"\x00\x00\x00\x00"
                + bytes([len(body) // 255 + 1])
                + b"\xff" * (len(body) // 255)
                + bytes([len(body) % 255]))
        img = head + body
        crc = _ogg_crc(img)
        return (img[:22] + crc.to_bytes(4, "little") + img[26:])

    def _blob(i: int) -> bytes:
        serial = 0x1000 + i
        opus = i % 2 == 0
        pre_skip = 312 + i % 7
        if opus:
            bos = (b"OpusHead" + bytes([1, 1 + i % 2])
                   + pre_skip.to_bytes(2, "little")
                   + (48000).to_bytes(4, "little")
                   + b"\x00\x00" + b"\x00")
        else:
            rate = [48000, 44100, 32000][i % 3]
            bos = (b"\x01vorbis" + (0).to_bytes(4, "little")
                   + bytes([1 + i % 3])
                   + rate.to_bytes(4, "little")
                   + b"\x00" * 12 + b"\xb8" + b"\x01")
        out = page(serial, 0, 0, bos, 0x02)
        n_audio = 1 + i % 4
        step = 960 * (2 + i % 3)
        granule = pre_skip if opus else 0
        for j in range(n_audio):
            granule += step
            payload = bytes([(i + j) % 256]) * (20 + 251 * (j % 2))
            out += page(serial, 1 + j, granule,
                        payload, 0x04 if j == n_audio - 1 else 0)
        return out

    return _synth_stage(docs, _blob)


# ADTS sampling-frequency table (public spec constant, ISO 14496-3):
# 4-bit index; 13/14 reserved, 15 = explicit-frequency escape.
_ADTS_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350]


def aac_stream_info(blob: bytes) -> dict:
    """REAL pure-stdlib ADTS AAC header walk — ``mp3_stream_info``'s
    sibling for the OTHER dominant crawled-audio format: frame-by
    -frame sync parse (12-bit sync, MPEG-2/4 ID bit, layer bits,
    CRC flag, 2-bit profile, the 13-entry sampling-frequency table,
    3-bit channel configuration, 13-bit frame length,
    raw-data-block count).  Each frame carries 1024 samples per raw
    data block.  Returns {"n_frames", "sample_rate", "channels",
    "profile", "duration_ms", "crc_frames"}.  AAC PCM decode is an
    honest codec boundary (the spectral huffman codebooks are printed
    spec tables, the same wall as mp3's big-value tables — recorded
    in llm/mp3.py); LOAS/LATM muxing, the explicit-frequency escape,
    and reserved frequency indices refuse by name."""
    blob = bytes(blob)
    pos = id3v2_end(blob)  # same ID3v2 prefix convention as mp3
    if blob[pos : pos + 2] in (b"\x56\xe0", b"\x56\xe1") or bytes(
        blob[pos : pos + 4]
    ) == b"ADIF":
        raise NotImplementedError(
            "LOAS/LATM and ADIF AAC muxings are not ADTS; only the "
            "ADTS framing walks here"
        )
    n_frames = 0
    crc_frames = 0
    total_blocks = 0
    rate = channels = profile = None
    while pos + 7 <= len(blob):
        if n_frames and blob[pos : pos + 3] == b"TAG":
            break
        if n_frames and blob[pos : pos + 8] == b"APETAGEX":
            break
        b0, b1, b2, b3, b4, b5, b6 = blob[pos : pos + 7]
        if b0 != 0xFF or (b1 & 0xF0) != 0xF0:
            if n_frames == 0:
                raise ValueError("not an ADTS AAC stream (no frame sync)")
            raise ValueError("lost ADTS frame sync mid-stream")
        if (b1 >> 1) & 3 != 0:
            raise ValueError("ADTS layer bits must be 00")
        protection_absent = b1 & 1
        prof = b2 >> 6
        sfi = (b2 >> 2) & 0xF
        if sfi >= 15:
            raise NotImplementedError(
                "ADTS explicit-frequency escape (index 15) needs the "
                "AudioSpecificConfig; indices 0-12 parse here"
            )
        if sfi >= 13:
            raise ValueError(f"reserved ADTS frequency index {sfi}")
        sr = _ADTS_RATES[sfi]
        ch = ((b2 & 1) << 2) | (b3 >> 6)
        if ch == 0:
            raise NotImplementedError(
                "channel_configuration 0 (PCE-defined layout) needs "
                "the in-band program config element"
            )
        frame_length = ((b3 & 3) << 11) | (b4 << 3) | (b5 >> 5)
        rdb = b6 & 3
        header_len = 7 if protection_absent else 9
        if frame_length < header_len:
            raise ValueError("ADTS frame length smaller than its header")
        if pos + frame_length > len(blob):
            raise ValueError("truncated ADTS frame")
        if rate is None:
            rate, channels, profile = sr, ch, prof
        elif sr != rate or ch != channels:
            raise ValueError("sample rate/channels change mid-stream")
        n_frames += 1
        crc_frames += 0 if protection_absent else 1
        total_blocks += rdb + 1
        pos += frame_length
    if n_frames == 0:
        raise ValueError("not an ADTS AAC stream (no frame sync)")
    return {
        "n_frames": n_frames,
        "sample_rate": rate,
        "channels": channels,
        "profile": profile,
        "duration_ms": total_blocks * 1024 * 1000 // rate,
        "crc_frames": crc_frames,
    }


def aac_features(media: DataFrame) -> DataFrame:
    """ADTS header-walk features in the standard multimodal plumbing:
    (n_frames, sample_rate, channels, profile, duration_ms,
    crc_frames) per blob; poison blobs null out (dead-letter
    contract)."""

    def _row(b: bytes) -> tuple:
        m = aac_stream_info(b)
        return (m["n_frames"], m["sample_rate"], m["channels"],
                m["profile"], m["duration_ms"], m["crc_frames"])

    return _blob_stage(
        media,
        _row,
        "doc_id long, n_frames long, sample_rate long, channels long, "
        "profile long, duration_ms long, crc_frames long",
    )


def synth_aac_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic ADTS corpus from doc ids: REAL 7/9-byte ADTS
    headers (sync, profile, frequency index, channel config spanning
    the byte boundary, 13-bit frame length, raw-data-block count)
    with zero payload bytes — the header WALK is what's real and what
    the oracle predicts; nothing pretends to decode spectra.  Per doc
    i: profile i %% 4, rate cycling 48k/44.1k/16k/8k, channels
    1 + i %% 3, 2 + i %% 4 frames, CRC headers on i %% 3 == 0 (9-byte
    form, dummy CRC), raw_data_blocks = i %% 2 (so duration doubles),
    ID3v2 prefix on i %% 5 == 1."""

    sfis = [3, 4, 8, 11]

    def _blob(i: int) -> bytes:
        prof = i % 4
        sfi = sfis[i % 4]
        ch = 1 + i % 3
        crc = i % 3 == 0
        rdb = i % 2
        out = bytearray()
        if i % 5 == 1:
            out += _id3v2(b"AACTAG!!" * (1 + i % 2))
        for j in range(2 + i % 4):
            header_len = 9 if crc else 7
            payload = 5 + (i + j) % 7
            flen = header_len + payload
            out += bytes([
                0xFF,
                0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1),
                (prof << 6) | (sfi << 2) | (ch >> 2),
                ((ch & 3) << 6) | (flen >> 11),
                (flen >> 3) & 0xFF,
                ((flen & 7) << 5) | 0x1F,  # buffer fullness hi
                (0x3F << 2) | rdb,         # fullness lo + rdb
            ])
            if crc:
                out += b"\x00\x00"
            out += b"\x00" * payload
        return bytes(out)

    return _synth_stage(docs, _blob)


def synth_mp3_l3_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic REAL MPEG-1 Layer III corpus from doc ids
    (llm/mp3.py:encode_mp3 — genuine side info, scalefactor bits,
    huffman big-value/count1 payloads from the embedded registry).
    Per doc i: sample rate cycles 44.1/48/32 kHz (i %% 3), 2 + i %% 3
    frames, stereo on i %% 5 == 0 (MS-matrixed joint stereo on
    i %% 10 == 5), SHORT blocks (window switching, subblock gains) on
    i %% 6 == 3, ID3v2 prefix on odd docs, and i %% 4 == 0 is digital
    SILENCE (zero spectrum — the one case where float PCM is exactly
    predictable).  Non-silent granules plant 2 + i %% 3 big-value
    pairs of (±1, ±1) and 1 + i %% 2 count1 quads of (1,0,0,1), with
    global_gain 100 + i %% 97 and maxed scalefactors under
    scalefac_compress = i %% 16 — every integer diagnostic the
    decoder reports is an arithmetic function of i."""

    from .mp3 import encode_mp3

    def _blob(i: int) -> bytes:
        rate = _RATES[3][i % 3]
        stereo = i % 5 == 0
        nch = 2 if stereo else 1
        short = i % 6 == 3
        silent = i % 4 == 0

        def gran(ch):
            g = {
                "global_gain": 100 + i % 97,
                "scalefac_compress": i % 16,
                "scalefac_scale": i % 2,
                "block_type": 2 if short else 0,
                "subblock_gain": (i % 3, 0, 1),
                "big_pairs": [],
                "quads": [],
            }
            if not silent:
                n_pairs = 2 + i % 3
                g["big_pairs"] = [
                    (1 if (k + ch) % 2 else -1, -1 if k % 2 else 1)
                    for k in range(n_pairs)
                ]
                g["quads"] = [(1, 0, 0, 1)] * (1 + i % 2)
            return g

        frames = [
            [[gran(ch) for ch in range(nch)] for _gr in range(2)]
            for _f in range(2 + i % 3)
        ]
        mode = 3 if not stereo else (1 if i % 10 == 5 else 0)
        blob = encode_mp3(
            frames,
            sample_rate=rate,
            bitrate_idx=8,
            mode=mode,
            mode_ext=2 if mode == 1 else 0,
        )
        if i % 2 == 1:
            blob = _id3v2(b"TAGDATA!" * (1 + i % 3)) + blob
        return blob

    return _synth_stage(docs, _blob)


def mp3_audio_features(media: DataFrame) -> DataFrame:
    """REAL Layer III PCM decode in the standard multimodal plumbing
    (llm/mp3.py:decode_mp3 — side info, bit reservoir, huffman
    registry, requantization, reorder/alias/IMDCT hybrid filterbank,
    polyphase synthesis): Arrow-batched mapInPandas into (doc_id,
    n_frames, sample_rate, channels, n_samples, nz_lines, sf_sum,
    gg_sum, silent).  The integer diagnostics pin the whole entropy
    path; ``silent`` pins that a zero spectrum reaches EXACTLY zero
    float PCM through the full filterbank.  Poison blobs and
    unsupported shapes (Layers I/II, LSF, intensity stereo, tables
    outside the registry) null out (dead-letter contract)."""
    from .mp3 import decode_mp3

    def _row(b: bytes) -> tuple:
        m = decode_mp3(b)
        return (m["n_frames"], m["sample_rate"], m["channels"],
                m["n_samples"], m["nz_lines"], m["sf_sum"], m["gg_sum"],
                m["max_abs"] == 0.0)

    return _blob_stage(
        media,
        _row,
        "doc_id long, n_frames long, sample_rate long, channels long, "
        "n_samples long, nz_lines long, sf_sum long, gg_sum long, "
        "silent boolean",
    )


def jpeg_dimensions(blob: bytes) -> dict:
    """REAL pure-stdlib JPEG header parse: walks the marker stream to
    the first SOF frame header (baseline SOF0 through progressive
    SOF15, excluding DHT/DAC/RST markers) and returns {"width",
    "height", "channels", "progressive"}. Pixel decode needs a real
    codec (huffman + IDCT) — but corpus-scale image QA (aspect
    filters, resolution floors, thumbnail routing) only needs the
    dimensions, and this reads just the header bytes of each blob."""
    import struct

    if bytes(blob[:2]) != b"\xff\xd8":
        raise ValueError("not a JPEG byte string (bad SOI marker)")
    pos = 2
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        # The spec allows any number of 0xFF fill bytes before a
        # marker byte — skip them so padded streams don't desync.
        while pos + 1 < len(blob) and blob[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(blob):
            break  # trailing fill bytes, no marker follows
        marker = blob[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no length
        if pos + 2 > len(blob):
            break
        size = struct.unpack(">H", bytes(blob[pos : pos + 2]))[0]
        # SOF0-SOF15 minus DHT (C4), DAC (CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 8 > len(blob):
                raise ValueError("JPEG SOF segment truncated")
            _prec, h, w, ncomp = struct.unpack(
                ">BHHB", bytes(blob[pos + 2 : pos + 8])
            )
            return {
                "width": w,
                "height": h,
                "channels": ncomp,
                "progressive": marker == 0xC2,
            }
        if marker == 0xD9 or marker == 0xDA:
            break  # EOI / start-of-scan without SOF: give up
        pos += size
    raise ValueError("JPEG has no SOF frame header")


def avi_frames(blob: bytes, every: int = 1, max_frames: int = 8) -> list[bytes]:
    """REAL pure-stdlib AVI frame sampling (struct only): walks the
    RIFF chunk tree to the ``LIST movi`` payload and returns every
    ``every``-th video frame chunk (ids ``##dc`` compressed /
    ``##db`` uncompressed), up to ``max_frames``. Frame PAYLOADS are
    returned as stored — sampling a video for feature extraction
    never needs to decode the frames it skips, and the kept payloads
    feed whatever image decoder applies (``decode_image`` for the
    formats built in here, a real codec in production)."""
    import struct

    if bytes(blob[:4]) != b"RIFF" or bytes(blob[8:12]) != b"AVI ":
        raise ValueError("not a RIFF/AVI byte string (bad signature)")

    frames: list[bytes] = []

    def walk(start: int, end: int, in_movi: bool) -> None:
        pos = start
        while pos + 8 <= end and len(frames) < max_frames * every:
            cid = bytes(blob[pos : pos + 4])
            size = struct.unpack("<I", bytes(blob[pos + 4 : pos + 8]))[0]
            body_start = pos + 8
            if cid == b"LIST":
                subtype = bytes(blob[body_start : body_start + 4])
                walk(
                    body_start + 4,
                    min(end, body_start + size),
                    in_movi or subtype == b"movi",
                )
            elif in_movi and cid[2:4] in (b"dc", b"db"):
                frames.append(bytes(blob[body_start : body_start + size]))
            pos = body_start + size + (size & 1)  # word-aligned chunks

    walk(12, len(blob), False)
    return frames[::every][:max_frames]


def _mp4_boxes(blob: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each ISO-BMFF box in
    [start, end): 32-bit size, size==1 -> 64-bit largesize follows,
    size==0 -> box extends to the end of the enclosing container."""
    import struct

    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack(">I4s", bytes(blob[pos : pos + 8]))
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise ValueError("mp4 box truncated before largesize")
            size = struct.unpack(">Q", bytes(blob[body : body + 8]))[0]
            body += 8
            box_end = pos + size
        elif size == 0:
            box_end = end
        else:
            box_end = pos + size
        if box_end < body or box_end > end:
            raise ValueError(f"mp4 box {btype!r} overruns its container")
        yield btype, body, box_end
        pos = box_end


def _mp4_find(blob: bytes, start: int, end: int, *path: bytes):
    """Descend a box path (e.g. moov/trak) returning (body_start,
    body_end) of the FIRST match, or None."""
    for btype, body, box_end in _mp4_boxes(blob, start, end):
        if btype == path[0]:
            if len(path) == 1:
                return body, box_end
            return _mp4_find(blob, body, box_end, *path[1:])
    return None


def mp4_frames(blob: bytes, every: int = 1, max_frames: int = 8) -> list[bytes]:
    """REAL pure-stdlib ISO-BMFF (mp4/mov) keyframe sampling (struct
    only): walks the box tree to the first VIDEO track's sample tables
    — ``stsz`` (sample sizes), ``stsc`` (sample-to-chunk runs),
    ``stco``/``co64`` (chunk offsets), ``stss`` (sync samples; absent
    means every sample is a keyframe) — computes each sync sample's
    absolute file offset, and returns every ``every``-th keyframe
    PAYLOAD up to ``max_frames``.  Payloads are returned as stored
    (typically compressed video samples): sampling for feature
    extraction never decodes the frames it skips, and pixel decode of
    the kept payloads is the codec boundary, not the demux."""
    import struct

    if len(blob) < 12 or bytes(blob[4:8]) != b"ftyp":
        raise ValueError("not an ISO-BMFF byte string (no ftyp box)")

    moov = _mp4_find(blob, 0, len(blob), b"moov")
    if moov is None:
        raise ValueError("mp4 has no moov box")

    # First trak whose hdlr declares a video handler.
    tables: dict[bytes, tuple[int, int]] | None = None
    for btype, body, box_end in _mp4_boxes(blob, *moov):
        if btype != b"trak":
            continue
        mdia = _mp4_find(blob, body, box_end, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_find(blob, *mdia, b"hdlr")
        if hdlr is None or bytes(blob[hdlr[0] + 8 : hdlr[0] + 12]) != b"vide":
            continue
        stbl = _mp4_find(blob, *mdia, b"minf", b"stbl")
        if stbl is None:
            continue
        tables = {
            t: (b, e)
            for t, b, e in _mp4_boxes(blob, *stbl)
            if t in (b"stsz", b"stsc", b"stco", b"co64", b"stss")
        }
        break
    if tables is None:
        raise ValueError("mp4 has no video track")
    if b"stsz" not in tables or b"stsc" not in tables or not (
        b"stco" in tables or b"co64" in tables
    ):
        raise ValueError("mp4 video track is missing sample tables")

    # Hostile-input bounds: every table length is validated against the
    # bytes actually present BEFORE any unpack or list allocation — a
    # 32-byte blob declaring n_samples=0xFFFFFFFF must raise ValueError
    # (dead-letter), not allocate gigabytes or throw struct.error.
    def u32s(body: tuple[int, int], skip: int, n: int) -> list[int]:
        b = body[0] + skip
        if b + 4 * n > body[1]:
            raise ValueError("mp4 sample table shorter than its entry count")
        return list(struct.unpack(f">{n}I", bytes(blob[b : b + 4 * n])))

    def u32_at(body: tuple[int, int], skip: int) -> int:
        if body[0] + skip + 4 > body[1]:
            raise ValueError("mp4 sample table header truncated")
        return struct.unpack(
            ">I", bytes(blob[body[0] + skip : body[0] + skip + 4])
        )[0]

    # stsz: fullbox(4) + sample_size(4) + sample_count(4) [+ sizes]
    sz_body = tables[b"stsz"]
    fixed_size = u32_at(sz_body, 4)
    n_samples = u32_at(sz_body, 8)
    if n_samples > len(blob):
        raise ValueError(
            f"mp4 stsz declares {n_samples} samples in a {len(blob)}-byte blob"
        )
    sizes = (
        [fixed_size] * n_samples if fixed_size else u32s(sz_body, 12, n_samples)
    )
    # stsc: fullbox(4) + entry_count(4) + (first_chunk, per_chunk, desc)*
    sc_body = tables[b"stsc"]
    n_sc = u32_at(sc_body, 4)
    sc = u32s(sc_body, 8, 3 * n_sc)
    runs = [(sc[3 * i], sc[3 * i + 1]) for i in range(n_sc)]
    # stco/co64 chunk offsets
    if b"stco" in tables:
        co_body = tables[b"stco"]
        n_chunks = u32_at(co_body, 4)
        chunk_offs = u32s(co_body, 8, n_chunks)
    else:
        co_body = tables[b"co64"]
        n_chunks = u32_at(co_body, 4)
        b0 = co_body[0] + 8
        if b0 + 8 * n_chunks > co_body[1]:
            raise ValueError("mp4 co64 table shorter than its entry count")
        chunk_offs = list(
            struct.unpack(f">{n_chunks}Q", bytes(blob[b0 : b0 + 8 * n_chunks]))
        )
    # stss sync samples (1-based); absent -> every sample is a keyframe
    if b"stss" in tables:
        ss_body = tables[b"stss"]
        sync = u32s(ss_body, 8, u32_at(ss_body, 4))
    else:
        sync = list(range(1, n_samples + 1))

    # Per-sample absolute offsets: expand the stsc runs across chunks.
    offsets = [0] * n_samples
    sample = 0
    for i, (first_chunk, per_chunk) in enumerate(runs):
        last_chunk = runs[i + 1][0] - 1 if i + 1 < len(runs) else n_chunks
        for chunk in range(first_chunk, last_chunk + 1):
            if chunk - 1 >= len(chunk_offs) or sample >= n_samples:
                break
            off = chunk_offs[chunk - 1]
            for _ in range(per_chunk):
                if sample >= n_samples:
                    break
                offsets[sample] = off
                off += sizes[sample]
                sample += 1

    frames: list[bytes] = []
    for s in sync[::every]:
        if len(frames) >= max_frames:
            break
        if not 1 <= s <= n_samples:
            raise ValueError(f"mp4 stss references sample {s} of {n_samples}")
        start = offsets[s - 1]
        frames.append(bytes(blob[start : start + sizes[s - 1]]))
    return frames


_EBML_SIG = b"\x1a\x45\xdf\xa3"  # EBML header element id (mkv/webm)


def _ebml_vint(blob: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Parse one EBML variable-length integer at ``pos`` -> (value,
    next_pos). Element IDs keep their length-marker bit (Matroska ids
    are conventionally quoted with it); data sizes strip it."""
    if pos >= len(blob):
        raise ValueError("EBML varint overruns the buffer")
    first = blob[pos]
    if first == 0:
        raise ValueError("invalid EBML varint (no length marker in 8 bits)")
    length = 9 - first.bit_length()
    if pos + length > len(blob):
        raise ValueError("EBML varint overruns the buffer")
    v = first if keep_marker else first & ((1 << (8 - length)) - 1)
    for b in blob[pos + 1 : pos + length]:
        v = (v << 8) | b
    return v, pos + length


def _ebml_elements(blob: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) for each EBML element
    in [start, end). An all-ones size means "unknown" (streamed
    Matroska): the element extends to its container's end."""
    pos = start
    while pos < end:
        eid, p = _ebml_vint(blob, pos, keep_marker=True)
        size, body = _ebml_vint(blob, p, keep_marker=False)
        if size == (1 << (7 * (body - p))) - 1:
            body_end = end
        else:
            body_end = body + size
        if body_end > end:
            raise ValueError("EBML element overruns its container")
        yield eid, body, body_end
        pos = body_end


def mkv_frames(blob: bytes, every: int = 1, max_frames: int = 8) -> list[bytes]:
    """REAL pure-stdlib Matroska/WebM keyframe sampling: EBML varint
    walk down Segment -> Cluster -> SimpleBlock / BlockGroup. A
    SimpleBlock is a keyframe iff its header flag 0x80 is set; a
    BlockGroup's Block is a keyframe iff the group carries no
    ReferenceBlock. Frame PAYLOADS are returned as stored (compressed
    video samples) — sampling never decodes what it skips. LACED
    blocks (several frames per block — common in webm audio and some
    video muxes) are split for real in all three modes (Matroska
    §Block structure): Xiph (255-continued size bytes), fixed (equal
    division), and EBML (first size a vint, then signed-vint deltas);
    the last lace is always the remainder. Unknown-size elements
    (live-streamed Matroska) are handled."""
    blob = bytes(blob)
    if blob[:4] != _EBML_SIG:
        raise ValueError("not an EBML (mkv/webm) byte string")
    frames: list[bytes] = []

    def lace_sizes(flags: int, p: int, body_end: int) -> tuple[list[int], int]:
        """Frame sizes within one (Simple)Block payload starting at
        ``p``; returns (sizes, payload_start)."""
        mode = flags & 0x06
        if mode == 0x00:
            return [body_end - p], p
        if p >= body_end:
            raise ValueError(
                "Matroska block truncated before its lace count"
            )
        n = blob[p] + 1  # lace-count byte stores count - 1
        p += 1
        sizes: list[int] = []
        if mode == 0x04:  # fixed: equal division of the remainder
            total = body_end - p
            if total % n:
                raise ValueError(
                    "fixed-laced Matroska block payload not divisible "
                    "by its lace count (corrupt stream)"
                )
            return [total // n] * n, p
        if mode == 0x02:  # Xiph: 255-continued bytes per size
            for _ in range(n - 1):
                s = 0
                while True:
                    if p >= body_end:
                        raise ValueError(
                            "Xiph lace sizes overrun the Matroska block"
                        )
                    b = blob[p]
                    p += 1
                    s += b
                    if b != 255:
                        break
                sizes.append(s)
        else:  # 0x06 EBML: first size a vint, then signed-vint deltas
            prev, p2 = _ebml_vint(blob, p, keep_marker=False)
            sizes.append(prev)
            p = p2
            for _ in range(n - 2):
                raw, p2 = _ebml_vint(blob, p, keep_marker=False)
                prev += raw - ((1 << (7 * (p2 - p) - 1)) - 1)
                if prev < 0:
                    raise ValueError("negative EBML lace size")
                sizes.append(prev)
                p = p2
        rest = (body_end - p) - sum(sizes)
        if rest < 0:
            raise ValueError("laced Matroska sizes overrun the block")
        sizes.append(rest)  # last lace is the remainder
        return sizes, p

    def block(body: int, body_end: int) -> tuple[bool, list[bytes]]:
        _track, p = _ebml_vint(blob, body, keep_marker=False)
        p += 2  # int16 timestamp relative to the cluster
        flags = blob[p]
        p += 1
        sizes, p = lace_sizes(flags, p, body_end)
        payloads = []
        for s in sizes:
            payloads.append(blob[p : p + s])
            p += s
        return bool(flags & 0x80), payloads

    for eid, body, bend in _ebml_elements(blob, 0, len(blob)):
        if eid != 0x18538067:  # Segment
            continue
        for eid2, b2, e2 in _ebml_elements(blob, body, bend):
            if eid2 != 0x1F43B675:  # Cluster
                continue
            for eid3, b3, e3 in _ebml_elements(blob, b2, e2):
                if len(frames) >= max_frames * every:
                    break
                if eid3 == 0xA3:  # SimpleBlock
                    key, payloads = block(b3, e3)
                    if key:
                        frames.extend(payloads)
                elif eid3 == 0xA0:  # BlockGroup
                    payloads, has_ref = None, False
                    for eid4, b4, e4 in _ebml_elements(blob, b3, e3):
                        if eid4 == 0xA1:  # Block (flag bits reserved)
                            payloads = block(b4, e4)[1]
                        elif eid4 == 0xFB:  # ReferenceBlock -> delta frame
                            has_ref = True
                    if payloads is not None and not has_ref:
                        frames.extend(payloads)
    return frames[::every][:max_frames]


def sample_frames(blob: bytes, every: int = 1, max_frames: int = 8) -> list[bytes]:
    """Frame sampling for opaque video payloads: REAL container walks
    for AVI (``avi_frames``, RIFF chunk tree), mp4/mov
    (``mp4_frames``, ISO-BMFF sample tables), and mkv/webm
    (``mkv_frames``, EBML cluster walk).  Unknown containers raise
    NotImplementedError — a sampler must never fabricate pseudo-frames
    from byte slices."""
    if bytes(blob[:4]) == b"RIFF" and bytes(blob[8:12]) == b"AVI ":
        return avi_frames(blob, every=every, max_frames=max_frames)
    if len(blob) >= 12 and bytes(blob[4:8]) == b"ftyp":
        return mp4_frames(blob, every=every, max_frames=max_frames)
    if bytes(blob[:4]) == _EBML_SIG:
        return mkv_frames(blob, every=every, max_frames=max_frames)
    raise NotImplementedError(
        "sample_frames demuxes AVI (RIFF), mp4/mov (ISO-BMFF), and "
        "mkv/webm (EBML); other containers need a real demuxer, which "
        "plugs in as a _blob_stage row function — the Spark plumbing is "
        "container-agnostic."
    )


def synth_pattern_png_corpus(docs: DataFrame, n_patterns: int = 13) -> DataFrame:
    """Deterministic PATTERN PNG corpus (the aHash gate's substrate):
    fixed 16x12 8-bit grayscale, pixel(x, y) = (b*(x+1) + (y+1)^2)
    % 200 plus a +40 left-edge perturbation on alternating variants —
    docs sharing (doc_id % n_patterns, variant) are bit-identical
    images (exact dups), same-pattern/other-variant docs are aHash
    NEAR dups (hamming 3-9 measured), and cross-pattern pairs spread
    wide — the three populations an image near-dup gate must
    separate.

    The x-coefficient enters the pixel mod 200, so b alone stops
    producing NEW images past 200 patterns — the r11 scale legs were
    silently benchmarking quadratic dup-group growth instead of
    corpus growth (measured: distinct images pinned at 400 while
    exact-dup pairs grew 100x per 10x step).  The (b // 200) y-ramp
    term spreads distinct images to ~40k patterns; it is ZERO for
    b < 200, so every oracle substrate (n_patterns=13) is
    bit-identical."""

    def _blob(i: int) -> bytes:
        b = i % n_patterns
        p = (i // n_patterns) % 2
        px = bytes(
            (b * (x + 1) + (b // 200) * 11 * (y + 1) + (y + 1) * (y + 1)) % 200
            + (40 if p == 1 and x < 4 else 0)
            for y in range(12)
            for x in range(16)
        )
        return encode_png(16, 12, 1, px)

    return _synth_stage(docs, _blob)


def image_ahash(
    media: DataFrame, hash_w: int = 8, hash_h: int = 8
) -> DataFrame:
    """Perceptual average-hash per image: REAL decode (any in-repo
    raster codec) -> nearest-neighbor resample to hash_w x hash_h via
    ``resize_image`` -> threshold each sample against the integer
    mean (strict >) -> pack each row's bits little-endian into one
    byte-sized band.  Returns (doc_id, bands array<int> length
    hash_h, ahash_hex) — bands are the banding unit for
    ``ahash_near_dup`` (pigeonhole exact recall), ahash_hex the
    64-bit fingerprint as lowercase hex.  Arrow-batched mapInPandas,
    the sanctioned Python zone (media decode); grayscale and
    multi-channel inputs both work (multi-channel averages the
    channels per sample — standard aHash luma collapse).  Poison
    blobs yield NULL bands (dead-letter discipline), never a task
    kill."""
    if hash_w > 8:
        raise ValueError("hash_w > 8 would overflow the per-row band byte")

    def _row(b: bytes) -> tuple:
        thumb = decode_png(resize_image(b, hash_w, hash_h))
        ch = thumb["channels"]
        raw = thumb["pixels"]
        vals = [
            sum(raw[(i * ch) + c] for c in range(ch)) // ch
            for i in range(hash_w * hash_h)
        ]
        return _threshold_bands(vals, hash_w, hash_h)

    return _blob_stage(
        media, _row, "doc_id long, bands array<int>, ahash_hex string"
    )


def _threshold_bands(vals: list[int], band_w: int, n_bands: int) -> tuple:
    """(bands, hex) of the aHash construction: each value thresholded
    against the integer mean (strict >), ``band_w`` bits packed
    little-endian per band — the image and audio fingerprint row."""
    mean = sum(vals) // len(vals)
    bands = [
        sum((1 << x) for x in range(band_w) if vals[y * band_w + x] > mean)
        for y in range(n_bands)
    ]
    return bands, "".join(f"{v:02x}" for v in bands)


def ahash_near_dup(
    ah: DataFrame,
    max_hamming: int = 4,
    band_w: int = 8,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """(doc_a, doc_b, hamming): fingerprint pairs differing in <=
    max_hamming bits, doc_a < doc_b.

    Plan shape — DEDUPE-THEN-BAND, the form that survives corpora
    where many documents share a fingerprint (blank images, silence,
    re-encodes):

    1. collapse documents to DISTINCT fingerprints (one distinct on
       the 64-bit word; members stay relational, never collected);
    2. search only the distinct fingerprints with the dedup family's
       banded kernel (``llm.dedup.hamming_band_pairs``): the word is
       bit-sliced into exactly ``max_hamming + 1`` keys, so by
       pigeonhole the (band, key) equi-join has EXACT recall —
       candidates scale with DISTINCT-fingerprint bucket
       co-occurrence, not documents (banding raw documents measured
       13.8x wall at 10x docs on a dup-heavy corpus;
       fingerprint-level banding took the same leg to ~linear).
       KEY-WIDTH SIZING at corpus scale: once distinct fingerprints
       approach 2^(total_bits/(t+1)), buckets saturate uniformly and
       candidates grow quadratically (measured: 64-bit/t=6 = 9-bit
       keys, 28x wall at the 10->100x leg; 128-bit/t=6 = 18-bit
       keys, 14x — BENCH_sf10.json round10_media_dedup).  Size the
       fingerprint so total_bits/(max_hamming+1) >= ~16 — e.g.
       ``audio_fingerprint(n_frames=128)``, ``image_ahash(hash_h=16)``;
       wide fingerprints pack into a words struct and band keys are
       bit ranges crossing word boundaries;
    3. the kernel verifies candidate fingerprint pairs with a
       relational popcount of the word-wise xor;
    4. expand back to document pairs relationally: same-fingerprint
       groups are ``llm.dedup.band_candidates`` over one band keyed by
       the fingerprint (their pairs ARE the required output — hamming
       0), verified cross-fingerprint pairs join members on each side.

    ``max_bucket_size`` is the dedup-family giant-bucket star guard
    (``band_candidates``), applied BOTH to same-fingerprint groups and
    to band buckets: an oversized group/bucket degrades to (min-id,
    member) star edges instead of an all-pairs blow-up — connectivity
    for downstream clustering is preserved, exhaustive member-member
    pairs inside the pathology are not enumerated; None disables.  The
    default cannot bite on the oracle substrates (largest group/bucket
    << 4096), so the gates certify brute-force equality with the guard
    ON.

    The decoded fingerprint table feeds several plan branches; without
    lineage truncation each branch re-runs the upstream decode chain
    (measured 4x the whole image pipeline), so it is lazily
    localCheckpoint-ed and computed once."""
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    base = ah.filter(F.col("bands").isNotNull()).localCheckpoint(eager=False)
    # storage geometry: bands is an array of fixed-width rows; its
    # length is data, not schema, so probe one row (a tiny job that
    # also materializes the checkpoint the branches share)
    first = base.select(F.size("bands").alias("n")).limit(1).collect()
    n_rows = first[0]["n"] if first else 0
    total_bits = n_rows * band_w
    if total_bits == 0:
        return base.sparkSession.createDataFrame(
            [], "doc_a long, doc_b long, hamming long"
        )
    # the fingerprint as 64-bit words (two's-complement bitwise ops
    # are well-defined; band slices use unsigned shifts).  WIDE
    # fingerprints (> 64 bits) pack into a words STRUCT — the scale
    # path: at a fixed threshold, band-key width grows with
    # fingerprint bits (64-bit/t=6 keys are ~9 bits and their 512-key
    # space saturates around ~50k distinct fingerprints, measured
    # 47x wall at the 10->100x leg; 128-bit keys are ~18 bits and
    # keep bucket growth linear)
    bands_per_word = 64 // band_w
    words = [
        functools.reduce(
            Column.bitwiseOR,
            [
                F.shiftleft(F.element_at("bands", i + 1).cast("long"), k * band_w)
                for k, i in enumerate(range(w0, min(w0 + bands_per_word, n_rows)))
            ],
        )
        for w0 in range(0, n_rows, bands_per_word)
    ]
    fp_col = (
        words[0]
        if len(words) == 1
        else F.struct(*[w.alias(f"w{i}") for i, w in enumerate(words)])
    )
    mem = base.select("doc_id", fp_col.alias("fp"))
    same_pairs = dedup.band_candidates(
        mem.select("doc_id", F.lit(0).alias("band"), F.col("fp").alias("key")),
        max_bucket_size,
    ).withColumn("hamming", F.lit(0).cast("long"))
    fp_pairs = dedup.hamming_band_pairs(
        mem.select("fp").distinct(), "fp", total_bits, max_hamming, max_bucket_size
    )
    cross_pairs = (
        fp_pairs.join(
            mem.select(F.col("fp").alias("fp_a"), F.col("doc_id").alias("_da")),
            "fp_a",
        )
        .join(
            mem.select(F.col("fp").alias("fp_b"), F.col("doc_id").alias("_db")),
            "fp_b",
        )
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "hamming",
        )
    )
    return same_pairs.unionByName(cross_pairs)


#: ahash_near_dup is modality-agnostic — any (doc_id, bands) table
#: with byte-sized bands works (audio fingerprints reuse it).
fingerprint_near_dup = ahash_near_dup


def _tone_samples(i: int, n_patterns: int) -> list[int]:
    """The audio substrate's shared sample arithmetic: 64 frames of
    25 alternating-sign samples at amplitude
    (b*(f+1) + (f+1)^2) % 80 + 10, +30 on the first 8 frames of
    alternating variants (b = i % n_patterns, variant = (i //
    n_patterns) % 2).  Docs sharing (b, variant) are sample-identical
    REGARDLESS of which container encodes them."""
    b = i % n_patterns
    p = (i // n_patterns) % 2
    samples: list[int] = []
    # both coefficients enter mod 80, so b alone wraps at 160
    # distinct recordings; the (b // 80) quadratic and (b // 6400)
    # cubic spreads keep distinct recordings growing with n_patterns
    # (~512k) — ZERO for b < 80, so the oracle substrates
    # (n_patterns=13) are bit-identical (r12 scale-leg fix)
    for f in range(64):
        a = (
            b * (f + 1)
            + (1 + b // 80) * (f + 1) * (f + 1)
            + (b // 6400) * (f + 1) * (f + 1) * (f + 1)
        ) % 80 + 10
        if p == 1 and f < 8:
            a += 30
        samples.extend(a if s % 2 == 0 else -a for s in range(25))
    return samples


def synth_tone_wav_corpus(docs: DataFrame, n_patterns: int = 13) -> DataFrame:
    """Deterministic AMPLITUDE-MODULATED wav corpus (the audio
    fingerprint gate's substrate): real mono 8-bit PCM over
    ``_tone_samples`` — docs sharing (doc_id % n_patterns, variant)
    are bit-identical recordings, same-pattern variants fingerprint
    3-11 bits apart, cross-pattern pairs >= 19 (measured) — the
    populations an audio near-dup gate must separate.  A
    constant-amplitude (square-wave) corpus could not certify the
    frame-energy profile; a modulated one can."""
    return _synth_stage(
        docs, lambda i: _tone_wav(_tone_samples(i, n_patterns))
    )


def _tone_wav(samples: list[int]) -> bytes:
    """Mono 8 kHz 8-bit PCM RIFF/WAVE of the tone corpora's samples."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    return _riff_wave(fmt, bytes(s + 128 for s in samples))


def synth_tone_audio_corpus(
    docs: DataFrame, n_patterns: int = 13, flac_mod: int = 3
) -> DataFrame:
    """Mixed-CONTAINER tone corpus: the same ``_tone_samples`` stream
    per doc, encoded as REAL FLAC (fixed-order-1 Rice entropy path,
    llm/flac.py) when ``doc_id % flac_mod == 0`` and 8-bit PCM
    RIFF/WAVE otherwise.  Docs sharing (doc_id % n_patterns, variant)
    decode to IDENTICAL samples across containers, so the
    ``audio_fingerprint`` gate built on this corpus certifies the
    ``decode_audio`` dispatch: a WAV and a FLAC of the same recording
    must land in the same near-dup cluster at hamming 0 (a regression
    to a WAV-only decode dead-letters every FLAC doc and both oracle
    pairs move)."""
    from .flac import encode_flac

    def _blob(i: int) -> bytes:
        samples = _tone_samples(i, n_patterns)
        if i % flac_mod == 0:
            return encode_flac([samples], sample_rate=8000, fixed_order=1)
        return _tone_wav(samples)

    return _synth_stage(docs, _blob)


def audio_fingerprint(
    media: DataFrame, n_frames: int = 64, band_w: int = 8
) -> DataFrame:
    """Energy-profile audio fingerprint per recording: REAL decode
    through the ``decode_audio`` container dispatch (RIFF/WAVE PCM,
    G.711, IMA ADPCM — and FLAC via ``llm.flac.decode_flac``, so a
    WAV and a FLAC of the same audio fingerprint IDENTICALLY)
    -> split the sample stream into ``n_frames`` equal frames ->
    integer mean |sample| per frame -> threshold each frame energy
    against the global integer mean (strict >) -> pack ``band_w``
    bits per band.  Returns (doc_id, bands array<int>, fp_hex) — the
    same shape as ``image_ahash``, so ``fingerprint_near_dup`` bands
    it with pigeonhole-exact recall.  The aHash construction applied
    to the time axis: loudness-profile-preserving transforms (level
    shifts move every frame AND the mean together) keep the
    fingerprint stable, reorderings break it.  Arrow-batched; poison
    blobs and unsupported codecs yield NULL bands (dead-letter
    discipline); MPEG-1 Layer III streams decode via llm/mp3.py, so
    the same recording as WAV/FLAC/mp3 fingerprints comparably."""
    if band_w > 8:
        raise ValueError("band_w > 8 would overflow the per-band byte")
    if n_frames % band_w:
        raise ValueError("n_frames must be a multiple of band_w")

    def _row(b: bytes) -> tuple:
        s = decode_audio(b)["samples"]
        flen = len(s) // n_frames
        if flen == 0:
            raise ValueError("recording shorter than n_frames")
        e = [
            sum(abs(v) for v in s[f * flen : (f + 1) * flen]) // flen
            for f in range(n_frames)
        ]
        return _threshold_bands(e, band_w, n_frames // band_w)

    return _blob_stage(
        media, _row, "doc_id long, bands array<int>, fp_hex string"
    )


def video_fingerprint(media: DataFrame, max_frames: int = 16) -> DataFrame:
    """(doc_id, h1, h2): one row per DISTINCT sampled frame payload —
    the video modality's posting table.  REAL demux (``sample_frames``
    walks RIFF/AVI, ISO-BMFF, or Matroska), one md5 per frame split
    into the family-standard 48-bit halves; repeated frames within a
    video collapse (set semantics, like document shingles).
    Undemuxable blobs contribute no rows (dead-letter discipline —
    audit them with ``video_frame_features``, whose summary nulls
    out).  The output IS a ``dedup._posting``-shaped table, so the
    whole n-gram near-dup machinery applies verbatim —
    ``video_near_dup`` below feeds it to ``ngram_jaccard_pairs``."""
    import hashlib

    def _rows(b: bytes) -> list[tuple]:
        hexes = (
            hashlib.md5(bytes(f)).hexdigest()
            for f in sample_frames(b, max_frames=max_frames)
        )
        pairs = ((int(h[:12], 16), int(h[12:24], 16)) for h in hexes)
        return list(dict.fromkeys(pairs))  # distinct, first-seen order

    return _blob_rows(media, _rows, "doc_id long, h1 long, h2 long")


def video_near_dup(
    media: DataFrame,
    threshold: float = 0.5,
    max_frames: int = 16,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): video pairs whose sampled-frame SETS
    overlap at jaccard >= threshold — re-encodes, trims, and
    re-containered copies share exact frame payloads, so frame-set
    Jaccard is the video analog of document shingle Jaccard.  The
    frame posting from ``video_fingerprint`` drops straight into
    ``dedup.ngram_jaccard_pairs`` (inverted index on the frame hash,
    df-capped against pathological frames — a black frame shared by
    millions of videos hits the same ``cap_doc_freq`` guard as a
    boilerplate shingle).  Container-agnostic by construction: an AVI
    and an mp4 of the same frames match."""
    posting = video_fingerprint(media, max_frames).persist()
    return dedup.ngram_jaccard_pairs(
        None,
        threshold=threshold,
        max_doc_freq=max_doc_freq,
        _posting_df=posting,
    )
