"""MPEG-1 Layer III (mp3) PCM decode, dependency-free (stdlib +
math only) — the dominant crawled-audio format, extending the audio
fingerprint / near-dup family beyond the WAV/G.711/ADPCM/FLAC set.

What is SPEC-EXACT here (structure or formula straight from the
public ISO/IEC 11172-3 definitions, nothing transcribed that cannot
be self-checked):

- frame sync / header fields, CRC skip, frame-length stepping;
- the MPEG-1 side-info layout (mono 17 B / two-channel 32 B):
  main_data_begin, scfsi, and per-granule part2_3_length,
  big_values, global_gain, scalefac_compress, window switching,
  block_type, table_select, subblock_gain, region counts;
- the bit-reservoir assembly (main_data_begin bytes reach back into
  previous frames' main-data pool);
- scalefactor decode: the 16-entry slen1/slen2 table, long-block
  bands 0-10/11-20, short-block bands 0-5/6-11 per window, scfsi
  group copying;
- requantization: |ix|^(4/3) * 2^((global_gain-210)/4
  - 2*subblock_gain) * 2^(-(scalefac_scale ? 1 : 0.5) *
  (scalefac + preflag*pretab));
- the scalefactor-band boundary tables for 32/44.1/48 kHz (each
  self-checked: widths sum to 576 long / 192-per-window short);
- short-block reorder (window interleave per frequency line), alias
  reduction (the 8 published ci butterflies), the 36/12-point IMDCT
  with the four block-type windows, overlap-add, frequency
  inversion, MS-stereo matrixing (l,r) = (m±s)/sqrt(2), and the
  32-band cosine-modulation matrix N[i][k] = cos((16+i)(2k+1)pi/64)
  of the synthesis filterbank.

HONEST BOUNDARIES (each refuses by name rather than guessing):

- Huffman tables: the 32 big-value code tables are arbitrary code
  assignments printed in the spec, not derivable from a formula, and
  this sandbox has no copy to transcribe from.  The embedded registry
  carries only the tables whose codes are structurally verifiable:
  table 0 (the empty table — zero bits, all zeros), table 1 (the
  2x2 {1, 001, 01, 000} code), and count1 table B (every quadruple
  coded as the 4-bit one's complement of its bits — the one count1
  table the spec defines by RULE).  Any other table_select /
  count1table_select==0 raises NotImplementedError naming the table,
  so an unsupported real-world stream dead-letters instead of
  decoding to silent garbage.
- The 512-tap synthesis window (ISO Table B.3) is a numerically
  designed prototype, also not formula-derivable.  The filterbank
  here runs the exact spec STRUCTURE (V-FIFO shift-by-64, the U
  interleave, 16-fold windowed sum) over a formula-derived
  windowed-sinc prototype (cutoff pi/64, Blackman window, gain
  -normalized) — a near-perfect-reconstruction stand-in whose
  band-energy behaviour matches the spec window (what the
  fingerprint/near-dup features consume) but whose PCM is NOT
  bit-conformant to an ISO decoder's.  Exact-zero spectra still
  produce exact-zero PCM, and tests pin the numerics (tone decode
  lands in the right band; silence is exactly silent).
- Layers I/II, MPEG-2/2.5 payloads, free-format bitrate, intensity
  stereo, and mixed blocks refuse by name (``mp3_stream_info`` in
  llm/multimodal.py still gives every stream the header-walk audit).

``encode_mp3`` is the matching substrate writer (the synthesized
-real-bytes oracle discipline of llm/flac.py / llm/jpeg.py): real
headers, real side info, real scalefactor and Huffman bits from the
same registry, bit-reservoir fields, frame-length stuffing — so the
gate's DuckDB oracle predicts frame counts, nonzero-line counts,
scalefactor sums and global-gain sums by construction.

Reference parity note: the reference pipeline has no media handling
(BASELINE.md); this closes the highest-share remaining audio-codec
boundary flagged by the round-11 review.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

__all__ = ["decode_mp3", "encode_mp3", "frame_headers", "id3v2_end"]

# Layer III header tables (public spec constants): bitrate in kbps by
# 4-bit index (0 = free format, 15 = reserved) for MPEG-1 and for the
# MPEG-2/2.5 low-sampling-frequency (LSF) extension; sample rate by
# 2-bit index (3 = reserved), keyed by the 2-bit version id (3 =
# MPEG-1, 2 = MPEG-2, 0 = MPEG-2.5; 1 is reserved).
_BITRATES = [
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0,
]
_BITRATES_LSF = [
    0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0,
]
_RATES = {
    3: [44100, 48000, 32000, 0],
    2: [22050, 24000, 16000, 0],
    0: [11025, 12000, 8000, 0],
}

# scalefac_compress -> (slen1, slen2): the published 16-entry table
_SLEN = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]

# long-block scalefactor-band WIDTHS per sample rate (22 entries, the
# 22nd is the no-scalefactor remainder; each list self-checks to 576)
_SFB_LONG = {
    44100: [4, 4, 4, 4, 4, 4, 6, 6, 8, 8, 10, 12, 16, 20, 24, 28, 34,
            42, 50, 54, 76, 158],
    48000: [4, 4, 4, 4, 4, 4, 6, 6, 6, 8, 10, 12, 16, 18, 22, 28, 34,
            40, 46, 54, 54, 192],
    32000: [4, 4, 4, 4, 4, 4, 6, 6, 8, 10, 12, 16, 20, 24, 30, 38, 46,
            56, 68, 84, 102, 26],
}
# short-block widths per window (13 entries; each sums to 192)
_SFB_SHORT = {
    44100: [4, 4, 4, 4, 6, 8, 10, 12, 14, 18, 22, 30, 56],
    48000: [4, 4, 4, 4, 6, 6, 10, 12, 14, 16, 20, 26, 66],
    32000: [4, 4, 4, 4, 6, 8, 12, 16, 20, 26, 34, 42, 12],
}
for _r, _w in _SFB_LONG.items():
    assert sum(_w) == 576, _r
for _r, _w in _SFB_SHORT.items():
    assert sum(_w) == 192, _r

# preflag additional scaling per long band (21 coded bands)
_PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
           3, 2]

# alias-reduction butterflies: the 8 published ci coefficients
_CI = [-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037]
_CS = [1.0 / math.sqrt(1.0 + c * c) for c in _CI]
_CA = [c / math.sqrt(1.0 + c * c) for c in _CI]

# ---------------------------------------------------------------------------
# Huffman registry: table id -> (xlen, ylen, linbits, {(x, y): bitstring})
# Only structurally-verifiable tables ship (module docstring).

_TAB1 = {(0, 0): "1", (0, 1): "001", (1, 0): "01", (1, 1): "000"}
_HUFF_BIG = {
    0: (1, 1, 0, {}),          # table 0: no bits, decodes (0, 0)
    1: (2, 2, 0, _TAB1),
}
# count1 table B: 4-bit one's complement of (v w x y)
_COUNT1_B = {
    tuple((q >> b) & 1 for b in (3, 2, 1, 0)): format(~q & 0xF, "04b")
    for q in range(16)
}


def _decode_tree(codes: dict) -> dict:
    """bitstring-walk dict: prefix -> either value tuple or subdict."""
    root: dict = {}
    for val, bits in codes.items():
        node = root
        for b in bits[:-1]:
            node = node.setdefault(b, {})
            if not isinstance(node, dict):
                raise ValueError("huffman registry code is not prefix-free")
        if bits[-1] in node:
            raise ValueError("huffman registry code collision")
        node[bits[-1]] = val
    return root


_TREE_BIG = {t: _decode_tree(c) for t, (_, _, _, c) in _HUFF_BIG.items() if c}
_TREE_C1B = _decode_tree(_COUNT1_B)


class _Bits:
    """MSB-first bit reader over bytes."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, bitpos: int = 0):
        self.buf = buf
        self.pos = bitpos

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.buf):
                raise ValueError("mp3 bitstream overrun")
            v = (v << 1) | ((self.buf[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def walk(self, tree: dict):
        node = tree
        while isinstance(node, dict):
            bit = "1" if self.read(1) else "0"
            node = node.get(bit)
            if node is None:
                raise ValueError("invalid huffman code in mp3 stream")
        return node


class _BitW:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, bits: int) -> None:
        for i in range(bits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.nbits = 0

    def write_bits(self, s: str) -> None:
        for ch in s:
            self.write(1 if ch == "1" else 0, 1)

    def bitlen(self) -> int:
        return len(self.out) * 8 + self.nbits

    def bytes_padded(self) -> bytes:
        if self.nbits:
            return bytes(self.out + bytes([self.acc << (8 - self.nbits)]))
        return bytes(self.out)


# ---------------------------------------------------------------------------
# side info


def _parse_side_info(data: bytes, nch: int) -> dict:
    r = _Bits(data)
    si: dict = {"main_data_begin": r.read(9)}
    r.read(5 if nch == 1 else 3)  # private bits
    si["scfsi"] = [[r.read(1) for _ in range(4)] for _ in range(nch)]
    gr_info = []
    for _gr in range(2):
        chs = []
        for _ch in range(nch):
            g: dict = {
                "part2_3_length": r.read(12),
                "big_values": r.read(9),
                "global_gain": r.read(8),
                "scalefac_compress": r.read(4),
            }
            wsf = r.read(1)
            if wsf:
                g["block_type"] = r.read(2)
                g["mixed"] = r.read(1)
                g["table_select"] = [r.read(5), r.read(5)]
                g["subblock_gain"] = [r.read(3) for _ in range(3)]
                if g["block_type"] == 0:
                    raise ValueError(
                        "mp3 window_switching with block_type 0 is reserved"
                    )
                if g["mixed"]:
                    raise NotImplementedError(
                        "mp3 mixed blocks (long low subbands + short high)"
                    )
                # window switching fixes region0 at 36 lines, region1 rest
                g["region_bounds"] = (36, 576)
            else:
                g["block_type"] = 0
                g["mixed"] = 0
                g["table_select"] = [r.read(5), r.read(5), r.read(5)]
                g["region0_count"] = r.read(4)
                g["region1_count"] = r.read(3)
            g["window_switching"] = wsf
            # preflag/scalefac_scale/count1table_select trail the
            # region fields in BOTH layouts (59 bits per granule-ch)
            g["preflag"] = r.read(1)
            g["scalefac_scale"] = r.read(1)
            g["count1table_select"] = r.read(1)
            chs.append(g)
        gr_info.append(chs)
    si["granules"] = gr_info
    return si


def _region_boundaries(g: dict, rate: int) -> tuple[int, int]:
    if g["window_switching"]:
        return g["region_bounds"]
    widths = _SFB_LONG[rate]
    bounds = [0]
    for w in widths:
        bounds.append(bounds[-1] + w)
    r0 = min(g["region0_count"] + 1, len(bounds) - 1)
    r1 = min(r0 + g["region1_count"] + 1, len(bounds) - 1)
    return bounds[r0], bounds[r1]


# ---------------------------------------------------------------------------
# scalefactors


def _read_scalefacs(r: _Bits, g: dict, scfsi: list, gr: int, prev: dict):
    """Returns ({"l": [..21], "s": [[3] x 12]}, part2_bits)."""
    slen1, slen2 = _SLEN[g["scalefac_compress"]]
    start = r.pos
    if g["block_type"] == 2 and g["window_switching"]:
        sf_s = []
        for band in range(12):
            slen = slen1 if band < 6 else slen2
            sf_s.append([r.read(slen) if slen else 0 for _ in range(3)])
        return {"l": [0] * 21, "s": sf_s}, r.pos - start
    groups = [range(0, 6), range(6, 11), range(11, 16), range(16, 21)]
    sf_l = [0] * 21
    for gi, bands in enumerate(groups):
        if gr == 1 and scfsi[gi]:
            for b in bands:
                sf_l[b] = prev["l"][b]
        else:
            slen = slen1 if gi < 2 else slen2
            for b in bands:
                sf_l[b] = r.read(slen) if slen else 0
    return {"l": sf_l, "s": [[0] * 3 for _ in range(12)]}, r.pos - start


# ---------------------------------------------------------------------------
# huffman spectral decode


def _read_huffman(r: _Bits, g: dict, rate: int, end_bit: int, diag: dict):
    ix = [0] * 576
    bound0, bound1 = _region_boundaries(g, rate)
    n_big = 2 * g["big_values"]
    if n_big > 576:
        raise ValueError("mp3 big_values exceeds 576 spectral lines")
    pos = 0
    while pos < n_big:
        if pos < bound0:
            tsel = g["table_select"][0]
        elif pos < bound1:
            tsel = g["table_select"][1]
        else:
            tsel = g["table_select"][2] if not g["window_switching"] else (
                g["table_select"][1]
            )
        if tsel not in _HUFF_BIG:
            raise NotImplementedError(
                f"mp3 huffman table {tsel} not in the embedded registry "
                "(only structurally-verifiable tables ship; see llm/mp3.py)"
            )
        xlen, ylen, linbits, codes = _HUFF_BIG[tsel]
        if not codes:
            x = y = 0
        else:
            x, y = r.walk(_TREE_BIG[tsel])
            if x == xlen - 1 and linbits:
                x += r.read(linbits)
            if x:
                if r.read(1):
                    x = -x
            if y == ylen - 1 and linbits:
                y += r.read(linbits)
            if y:
                if r.read(1):
                    y = -y
        ix[pos], ix[pos + 1] = x, y
        diag["nz"] += (x != 0) + (y != 0)
        diag["ix_sum"] += abs(x) + abs(y)
        pos += 2
    # count1 region: quadruples until bit budget or line 576
    while r.pos < end_bit and pos <= 572:
        if g["count1table_select"] == 0:
            raise NotImplementedError(
                "mp3 count1 table A not in the embedded registry "
                "(only the rule-defined table B ships; see llm/mp3.py)"
            )
        mark = r.pos
        try:
            quad = r.walk(_TREE_C1B)
            vals = []
            for q in quad:
                if q and r.read(1):
                    q = -q
                vals.append(q)
        except ValueError:
            r.pos = mark
            break
        if r.pos > end_bit:
            # the last quad straddled the granule boundary: conformant
            # decoders discard it (stuffing bits follow)
            r.pos = mark
            break
        for q in vals:
            ix[pos] = q
            diag["nz"] += q != 0
            diag["ix_sum"] += abs(q)
            pos += 1
    r.pos = end_bit
    return ix


# ---------------------------------------------------------------------------
# requantization / reorder / stereo / alias / IMDCT / synthesis


def _requantize(ix: list, g: dict, sf: dict, rate: int) -> list[float]:
    gg = g["global_gain"]
    mult = 1.0 if g["scalefac_scale"] else 0.5
    xr = [0.0] * 576
    if g["block_type"] == 2 and g["window_switching"]:
        widths = _SFB_SHORT[rate]
        pos = 0
        for band, w in enumerate(widths):
            for win in range(3):
                gain = (gg - 210) / 4.0 - 2.0 * g["subblock_gain"][win]
                scale = 2.0 ** (gain - mult * 2.0 * sf["s"][band][win]) \
                    if band < 12 else 2.0 ** gain
                for _k in range(w):
                    v = ix[pos]
                    if v:
                        xr[pos] = math.copysign(abs(v) ** (4.0 / 3.0), v) \
                            * scale
                    pos += 1
        return xr
    widths = _SFB_LONG[rate]
    pos = 0
    base = 2.0 ** ((gg - 210) / 4.0)
    for band, w in enumerate(widths):
        if band < 21:
            sfv = sf["l"][band] + g["preflag"] * _PRETAB[band]
        else:
            sfv = 0
        scale = base * 2.0 ** (-mult * 2.0 * sfv)
        for _k in range(w):
            v = ix[pos]
            if v:
                xr[pos] = math.copysign(abs(v) ** (4.0 / 3.0), v) * scale
            pos += 1
    return xr


def _reorder_short(xr: list, rate: int) -> list:
    """Decoded order is band-major (win0 win1 win2 per band); the
    filterbank wants the three windows interleaved per frequency
    line: out[3*line + win]."""
    out = [0.0] * 576
    widths = _SFB_SHORT[rate]
    pos = 0
    start = 0  # per-window frequency line at band start
    for w in widths:
        for win in range(3):
            for k in range(w):
                out[3 * (start + k) + win] = xr[pos]
                pos += 1
        start += w
    return out


def _alias_reduce(xr: list) -> None:
    for sb in range(1, 32):
        base = 18 * sb
        for i in range(8):
            a = xr[base - 1 - i]
            b = xr[base + i]
            xr[base - 1 - i] = a * _CS[i] - b * _CA[i]
            xr[base + i] = b * _CS[i] + a * _CA[i]


def _win_long(bt: int) -> list[float]:
    w = [math.sin(math.pi / 36.0 * (i + 0.5)) for i in range(36)]
    if bt == 1:  # start
        for i in range(18, 24):
            w[i] = 1.0
        for i in range(24, 30):
            w[i] = math.sin(math.pi / 12.0 * (i - 18 + 0.5))
        for i in range(30, 36):
            w[i] = 0.0
    elif bt == 3:  # stop
        for i in range(0, 6):
            w[i] = 0.0
        for i in range(6, 12):
            w[i] = math.sin(math.pi / 12.0 * (i - 6 + 0.5))
        for i in range(12, 18):
            w[i] = 1.0
    return w


_WIN = {bt: _win_long(bt) for bt in (0, 1, 3)}
_WIN_SHORT = [math.sin(math.pi / 12.0 * (i + 0.5)) for i in range(12)]
_IMDCT36 = [
    [math.cos(math.pi / 72.0 * (2 * p + 1 + 18) * (2 * m + 1))
     for m in range(18)]
    for p in range(36)
]
_IMDCT12 = [
    [math.cos(math.pi / 24.0 * (2 * p + 1 + 6) * (2 * m + 1))
     for m in range(6)]
    for p in range(12)
]


def _imdct_block(x18: list, bt: int) -> list[float]:
    """36 windowed time samples for one subband's 18 spectral lines."""
    if bt == 2:
        z = [0.0] * 36
        for win in range(3):
            xs = [x18[3 * m + win] for m in range(6)]
            if not any(xs):
                continue
            for p in range(12):
                row = _IMDCT12[p]
                v = sum(xs[m] * row[m] for m in range(6))
                z[6 + 6 * win + p] += v * _WIN_SHORT[p]
        return z
    if not any(x18):
        return [0.0] * 36
    w = _WIN[bt]
    return [
        sum(x18[m] * _IMDCT36[p][m] for m in range(18)) * w[p]
        for p in range(36)
    ]


_NMAT = [
    [math.cos((16 + i) * (2 * k + 1) * math.pi / 64.0) for k in range(32)]
    for i in range(64)
]

# numpy copies of the filterbank tables, built on first decode: the
# IMDCT + polyphase synthesis is >80% of decode wall as interpreted
# per-line loops (profiled: 8M generator steps for 40 docs); as numpy
# matmuls over whole granules it is two (32x18)@(18x36) / (64x32)@
# (32x18) products per granule-channel.  Lazy so the module imports
# without numpy (the entropy walk and encoder stay stdlib-pure).
_NPT: dict | None = None


def _np_tables() -> dict:
    global _NPT
    if _NPT is None:
        import numpy as np

        dwin = np.asarray(_DWIN).reshape(8, 64)
        _NPT = {
            "np": np,
            "NMAT": np.asarray(_NMAT),            # (64, 32)
            "IM36T": np.asarray(_IMDCT36).T,      # (18, 36)
            "IM12T": np.asarray(_IMDCT12).T,      # (6, 12)
            "WIN": {bt: np.asarray(w) for bt, w in _WIN.items()},
            "WS": np.asarray(_WIN_SHORT),         # (12,)
            "DWA": dwin[:, :32],                  # (8, 32)
            "DWB": dwin[:, 32:],                  # (8, 32)
            "CS": np.asarray(_CS[:8]),            # alias butterflies
            "CA": np.asarray(_CA[:8]),
        }
    return _NPT


def _design_synth_window() -> list[float]:
    """Formula-derived 512-tap near-PR prototype (module docstring):
    windowed sinc, cutoff pi/64, Blackman window, sum-normalized so
    the filterbank's DC gain matches the 32-band convention.

    The sign pattern is DERIVED, not transcribed: the V-FIFO stores
    only cos((i+16)(2k+1)pi/64) for i = 0..63, and the modulation
    index needed at lag tau is a = 32*tau + r; reducing a mod 128
    against the cosine's half-period antisymmetry
    (cos((a+64+16)(2k+1)pi/64) = -cos((a+16)(2k+1)pi/64)) pushes a
    factor (-1)^floor(n/64) of the polyphase lag into the window —
    exactly why the published D table alternates sign in 64-blocks.
    An unsigned lowpass here mis-adds half the lags (measured: 13%%
    of DC energy leaked out of band before the sign fix)."""
    n = 512
    c = (n - 1) / 2.0
    h = []
    for i in range(n):
        t = (i - c) / 64.0
        sinc = 1.0 if t == 0 else math.sin(math.pi * t) / (math.pi * t)
        bk = (0.42 - 0.5 * math.cos(2 * math.pi * i / (n - 1))
              + 0.08 * math.cos(4 * math.pi * i / (n - 1)))
        h.append(sinc * bk)
    s = sum(h)
    return [v * 32.0 / s * (-1.0) ** (i // 64) for i, v in enumerate(h)]


_DWIN = _design_synth_window()


class _Synth:
    """Per-channel polyphase synthesis state (1024-sample V FIFO)."""

    __slots__ = ("v",)

    def __init__(self):
        self.v = [0.0] * 1024

    def step(self, s32: list[float]) -> list[float]:
        v = self.v
        # shift by 64
        v[64:] = v[:-64]
        if any(s32):
            for i in range(64):
                row = _NMAT[i]
                v[i] = sum(row[k] * s32[k] for k in range(32))
        else:
            for i in range(64):
                v[i] = 0.0
        out = [0.0] * 32
        for j in range(8):
            v0 = 128 * j
            u0 = 64 * j
            for i in range(32):
                out[i] += v[v0 + i] * _DWIN[u0 + i]
                out[i] += v[v0 + 96 + i] * _DWIN[u0 + 32 + i]
        return out


# ---------------------------------------------------------------------------
# frame walk + top-level decode


def id3v2_end(blob: bytes) -> int:
    """Offset just past an ID3v2 prefix (10-byte header plus its
    synchsafe 28-bit size), 0 when the blob has none — the prefix mp3
    and ADTS AAC streams share."""
    if blob[:3] != b"ID3":
        return 0
    if len(blob) < 10:
        raise ValueError("truncated ID3v2 header")
    size = 0
    for b in blob[6:10]:
        size = (size << 7) | (b & 0x7F)
    return 10 + size


def frame_headers(blob: bytes) -> Iterator[tuple[int, int, int, int, int]]:
    """The one MPEG audio frame walk: ``(pos, header, bitrate_kbps,
    sample_rate, length)`` per Layer III frame (MPEG-1, -2 or -2.5),
    from past the ID3v2 prefix to the end of the blob or to an ID3v1
    (``TAG``) / APE (``APETAGEX``) end tag after the first frame.
    A frame is ``samples / 8 * bitrate / rate`` bytes plus the padding
    bit, with 1152 samples for MPEG-1 and 576 otherwise.  Lost sync, a
    free-format or reserved field, a truncated final frame or no frame
    at all raise ValueError; Layers I/II and the reserved version raise
    NotImplementedError."""
    pos = id3v2_end(blob)
    n = 0
    while pos + 4 <= len(blob):
        # real-world mp3s ubiquitously end in these tags
        if n and (blob[pos : pos + 3] == b"TAG"
                  or blob[pos : pos + 8] == b"APETAGEX"):
            break
        h = int.from_bytes(blob[pos : pos + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError("lost MPEG frame sync mid-stream")
        version = (h >> 19) & 3
        if version == 1 or (h >> 17) & 3 != 1:
            raise NotImplementedError(
                "only Layer III frames walk here (Layers I/II use "
                "different frame formulas)"
            )
        br = (_BITRATES if version == 3 else _BITRATES_LSF)[(h >> 12) & 0xF]
        rate = _RATES[version][(h >> 10) & 3]
        if not br or not rate:
            raise ValueError(
                "free-format/reserved bitrate or reserved sample rate"
            )
        flen = (144 if version == 3 else 72) * br * 1000 // rate
        flen += (h >> 9) & 1
        if pos + flen > len(blob):
            raise ValueError("truncated final mp3 frame")
        yield pos, h, br, rate, flen
        n += 1
        pos += flen
    if not n:
        raise ValueError("not an MPEG audio stream (no frame sync)")


def _walk_frames(blob: bytes) -> list[dict]:
    blob = bytes(blob)
    frames = []
    for pos, h, _br, rate, flen in frame_headers(blob):
        if (h >> 19) & 3 != 3:
            raise NotImplementedError(
                "mp3 PCM decode covers MPEG-1 only (MPEG-2/2.5 LSF "
                "streams keep the mp3_stream_info header audit)"
            )
        protection = (h >> 16) & 1
        mode = (h >> 6) & 3
        mode_ext = (h >> 4) & 3
        nch = 1 if mode == 3 else 2
        body = pos + 4
        if protection == 0:
            body += 2  # CRC16 follows the header
        side_len = 17 if nch == 1 else 32
        if body + side_len > pos + flen:
            raise ValueError("mp3 frame too short for its side info")
        si = _parse_side_info(blob[body : body + side_len], nch)
        frames.append(
            {
                "rate": rate,
                "mode": mode,
                "mode_ext": mode_ext,
                "nch": nch,
                "side": si,
                "main": blob[body + side_len : pos + flen],
            }
        )
    return frames


def decode_mp3(blob: bytes) -> dict:
    """Full decode: {"sample_rate", "channels", "bits", "n_samples",
    "samples" (flat channel-interleaved int16-range), "n_frames",
    "nz_lines", "ix_abs_sum", "gg_sum", "sf_sum", "max_abs"} — the
    last five are integer/float diagnostics the oracle gate pins by
    construction."""
    npt = _np_tables()
    np = npt["np"]
    frames = _walk_frames(blob)
    rate = frames[0]["rate"]
    nch = frames[0]["nch"]
    diag = {"nz": 0, "ix_sum": 0, "gg": 0, "sf": 0}
    pool = b""
    samples: list[int] = []
    max_abs = 0.0
    prev_block = [np.zeros((32, 18)) for _ in range(nch)]
    synth_v = [np.zeros(1024) for _ in range(nch)]
    prev_sf: list[dict] = [{"l": [0] * 21} for _ in range(nch)]
    for fr in frames:
        if fr["rate"] != rate or fr["nch"] != nch:
            raise ValueError("sample rate/channel mode changes mid-stream")
        if fr["mode"] == 1 and fr["mode_ext"] & 1:
            raise NotImplementedError(
                "mp3 intensity stereo is not supported (MS stereo is)"
            )
        begin = fr["side"]["main_data_begin"]
        if begin > len(pool):
            raise ValueError(
                "mp3 bit reservoir underrun (stream cut mid-reservoir)"
            )
        data = pool[len(pool) - begin :] + fr["main"] if begin else fr["main"]
        r = _Bits(data)
        ms = fr["mode"] == 1 and fr["mode_ext"] & 2
        for gr in range(2):
            xr_ch = []
            for ch in range(nch):
                g = fr["side"]["granules"][gr][ch]
                diag["gg"] += g["global_gain"]
                start = r.pos
                end_bit = start + g["part2_3_length"]
                if end_bit > len(data) * 8:
                    raise ValueError("mp3 granule overruns main data")
                sf, _p2 = _read_scalefacs(
                    r, g, fr["side"]["scfsi"][ch], gr, prev_sf[ch]
                )
                prev_sf[ch] = sf
                diag["sf"] += sum(sf["l"]) + sum(map(sum, sf["s"]))
                ix = _read_huffman(r, g, rate, end_bit, diag)
                xr_ch.append((_requantize(ix, g, sf, rate), g))
            if ms:
                l_, gl = xr_ch[0]
                r_, gr_ = xr_ch[1]
                inv = 1.0 / math.sqrt(2.0)
                for k in range(576):
                    m, s = l_[k], r_[k]
                    l_[k] = (m + s) * inv
                    r_[k] = (m - s) * inv
            for ch in range(nch):
                xr, g = xr_ch[ch]
                bt = g["block_type"]
                if bt == 2:
                    xr = _reorder_short(xr, rate)
                # whole-granule IMDCT as one matmul (32 subbands x 18
                # lines), then vectorized overlap-add + frequency
                # inversion — the interpreted per-subband form was the
                # decode hot spot (guide §4.2: vectorize inside the
                # Arrow zone).
                x32 = np.asarray(xr).reshape(32, 18)
                if bt != 2:
                    # alias reduction: each butterfly touches the tail
                    # of subband sb-1 and the head of sb exactly once,
                    # so all 31 x 8 butterflies run as two slice
                    # products (same arithmetic as _alias_reduce).
                    a8 = x32[:-1, 17:9:-1].copy()
                    b8 = x32[1:, :8].copy()
                    x32[:-1, 17:9:-1] = a8 * npt["CS"] - b8 * npt["CA"]
                    x32[1:, :8] = b8 * npt["CS"] + a8 * npt["CA"]
                if bt == 2:
                    z = np.zeros((32, 36))
                    x3 = x32.reshape(32, 6, 3)
                    for win in range(3):
                        v12 = x3[:, :, win] @ npt["IM12T"]
                        z[:, 6 + 6 * win : 18 + 6 * win] += v12 * npt["WS"]
                else:
                    z = (x32 @ npt["IM36T"]) * npt["WIN"][bt]
                cur = z[:, :18] + prev_block[ch]
                prev_block[ch] = z[:, 18:].copy()
                cur[1::2, 1::2] *= -1.0
                xr_ch[ch] = (cur, g)
            # polyphase: 18 time steps of 32 subband samples; the
            # 64x32 modulation runs once per granule as a single
            # matmul, the V-FIFO windowing as (8,32) slice products.
            step_out = []
            for ch in range(nch):
                cur, _g = xr_ch[ch]
                cols = npt["NMAT"] @ cur  # (64, 18): column t = step t
                # All 18 FIFO states are windows of one extended
                # buffer: newest-first modulation outputs followed by
                # the previous V, so step t reads ext[(17-t)*64:][:1024]
                # — the whole granule's windowing is two einsum-shaped
                # products instead of 18 shift+sum rounds.
                ext = np.concatenate(
                    (cols[:, ::-1].T.ravel(), synth_v[ch])
                )
                idx = (17 - np.arange(18)) * 64
                vmat = np.lib.stride_tricks.sliding_window_view(
                    ext, 1024
                )[idx].reshape(18, 8, 128)
                out_ch = (vmat[:, :, :32] * npt["DWA"]).sum(1) + (
                    vmat[:, :, 96:128] * npt["DWB"]
                ).sum(1)
                synth_v[ch] = ext[:1024].copy()
                step_out.append(out_ch.ravel())
            pcm = np.stack(step_out, axis=1).ravel()
            gm = float(np.max(np.abs(pcm))) if pcm.size else 0.0
            if gm > max_abs:
                max_abs = gm
            ints = np.clip(
                np.rint(pcm * 32767.0), -32768, 32767
            ).astype(np.int64)
            samples.extend(ints.tolist())
        pool = (pool + fr["main"])[-511:]
    return {
        "sample_rate": rate,
        "channels": nch,
        "bits": 16,
        "n_samples": len(samples) // nch,
        "samples": samples,
        "n_frames": len(frames),
        "nz_lines": diag["nz"],
        "ix_abs_sum": diag["ix_sum"],
        "gg_sum": diag["gg"],
        "sf_sum": diag["sf"],
        "max_abs": max_abs,
    }


# ---------------------------------------------------------------------------
# encoder (oracle substrate)


def _encode_granule_bits(g: dict) -> tuple[str, dict]:
    """Main-data bits for one (granule, channel): scalefactors then
    huffman; returns (bitstring, side-info fields)."""
    w = []
    slen1, slen2 = _SLEN[g["scalefac_compress"]]
    short = g.get("block_type", 0) == 2
    if short:
        sfs = g.get("scalefacs_s")
        if sfs is None:
            sfs = [[(1 << (slen1 if b < 6 else slen2)) - 1] * 3
                   for b in range(12)]
        for b in range(12):
            slen = slen1 if b < 6 else slen2
            for win in range(3):
                if slen:
                    w.append(format(sfs[b][win], f"0{slen}b"))
    else:
        sfl = g.get("scalefacs_l")
        if sfl is None:
            sfl = [(1 << (slen1 if b < 11 else slen2)) - 1
                   for b in range(21)]
        for b in range(21):
            slen = slen1 if b < 11 else slen2
            if slen:
                w.append(format(sfl[b], f"0{slen}b"))
    sf_bits = "".join(w)
    h = []
    for x, y in g.get("big_pairs", []):
        if abs(x) > 1 or abs(y) > 1:
            raise ValueError("substrate huffman table 1 carries |v| <= 1")
        h.append(_TAB1[(abs(x), abs(y))])
        if x:
            h.append("1" if x < 0 else "0")
        if y:
            h.append("1" if y < 0 else "0")
    for quad in g.get("quads", []):
        key = tuple(1 if q else 0 for q in quad)
        h.append(_COUNT1_B[key])
        for q in quad:
            if q:
                h.append("1" if q < 0 else "0")
    return sf_bits + "".join(h), {
        "big_values": len(g.get("big_pairs", [])),
        "short": short,
    }


def encode_mp3(
    frames: list,
    sample_rate: int = 44100,
    bitrate_idx: int = 12,
    mode: int = 3,
    mode_ext: int = 0,
) -> bytes:
    """Conformant-structure MPEG-1 Layer III bytes.  ``frames`` is a
    list of frame specs; each is a list of 2 granules; each granule a
    list of per-channel dicts {global_gain, scalefac_compress,
    block_type (0 long / 2 short), subblock_gain, big_pairs:
    [(x, y)...] (|v| <= 1, table 1), quads: [(v, w, x, y)...] (table
    B), scalefacs_l/scalefacs_s optional}.  main_data_begin is 0
    (each frame self-contained); stuffing bits pad to the spec frame
    length.  See the module docstring for what conformant means
    here."""
    rates = _RATES[3][:3]
    if sample_rate not in rates:
        raise ValueError(f"MPEG-1 sample rate must be one of {rates}")
    rate_idx = rates.index(sample_rate)
    br = _BITRATES[bitrate_idx]
    if not br:
        raise ValueError("free-format bitrate index is not supported")
    nch = 1 if mode == 3 else 2
    out = bytearray()
    for f in frames:
        if len(f) != 2 or any(len(grn) != nch for grn in f):
            raise ValueError("each frame needs 2 granules x nch channels")
        main = _BitW()
        side = _BitW()
        side.write(0, 9)  # main_data_begin
        side.write(0, 5 if nch == 1 else 3)
        for _ch in range(nch):
            side.write(0, 4)  # scfsi: granule 1 re-reads everything
        for gr in range(2):
            for ch in range(nch):
                g = f[gr][ch]
                bits, meta = _encode_granule_bits(g)
                side.write(len(bits), 12)  # part2_3_length
                side.write(meta["big_values"], 9)
                side.write(g.get("global_gain", 210), 8)
                side.write(g.get("scalefac_compress", 0), 4)
                if meta["short"]:
                    side.write(1, 1)  # window_switching
                    side.write(2, 2)  # block_type
                    side.write(0, 1)  # not mixed
                    side.write(1, 5)  # table_select region0 -> table 1
                    side.write(1, 5)  # region1 -> table 1
                    for sbg in g.get("subblock_gain", (0, 0, 0)):
                        side.write(sbg, 3)
                else:
                    side.write(0, 1)
                    side.write(1, 5)  # regions 0/1 -> table 1,
                    side.write(1, 5)  # region2 -> table 0 (empty)
                    side.write(0, 5)
                    side.write(7, 4)  # region0_count
                    side.write(7, 3)  # region1_count
                side.write(g.get("preflag", 0), 1)
                side.write(g.get("scalefac_scale", 0), 1)
                side.write(1, 1)  # count1table_select -> table B
                if meta["big_values"] * 2 > 156:
                    # regions 0+1 (table 1) span >= 156 lines at every
                    # MPEG-1 rate (boundary table index 16); region 2
                    # is the empty table
                    raise ValueError(
                        "substrate keeps big values inside regions 0-1 "
                        "(<= 78 pairs)"
                    )
                main.write_bits(bits)
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        h |= bitrate_idx << 12 | rate_idx << 10
        h |= mode << 6 | mode_ext << 4
        flen = 144 * br * 1000 // sample_rate
        side_b = side.bytes_padded()
        main_b = main.bytes_padded()
        need = 4 + len(side_b) + len(main_b)
        if need > flen:
            raise ValueError(
                f"frame payload {need} B exceeds spec frame length {flen} B"
                " — raise bitrate_idx"
            )
        out += h.to_bytes(4, "big") + side_b + main_b
        out += b"\x00" * (flen - need)
    return bytes(out)
