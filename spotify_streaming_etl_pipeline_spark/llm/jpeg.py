"""REAL JPEG codec, dependency-free (stdlib + numpy).

``decode_jpeg`` decodes BOTH baseline-sequential (SOF0/SOF1) and
PROGRESSIVE (SOF2) pixel streams: marker walk, DQT (8/16-bit, zigzag
order), DHT (canonical Huffman from BITS/HUFFVAL — the file's own
tables, not hardcoded ones), DRI/RSTn restart handling, the
byte-stuffed entropy bitstream, run-length AC decoding, interleaved
MCUs with arbitrary integer sampling factors, chroma box-replication
upsampling, and JFIF YCbCr->RGB for 3-component scans.  The
progressive path implements the full Annex G successive-approximation
machinery: multi-scan coefficient accumulation, spectral selection
(Ss/Se bands, single-component AC scans over the component's own
block grid), DC first/refinement scans (point transform, one raw bit
per block), AC first scans with EOBn run codes, and the G.1.2.3 AC
refinement correction-bit algorithm.  Both paths share one renderer:
zigzag coefficient buffers -> dequant -> one vectorized einsum IDCT
-> upsample/crop/color.  Both 8-bit and 12-BIT sample precision
decode (level shift 128/2048, 8/16-bit DQT entries, the widened
DC/AC category tables; results carry a "depth" field).  Honest
boundaries (explicit ``NotImplementedError``): arithmetic coding
(SOF9+), hierarchical (SOF5-7, 13-15), other precisions, and
non-interleaved BASELINE scans (an encoder rarity; progressive
non-interleaved scans are the spec-mandated form and ARE
implemented).

``encode_jpeg`` is the matching baseline encoder (forward DCT,
quantization, zigzag run-length, canonical Huffman, byte stuffing,
optional restart intervals); ``encode_jpeg_progressive`` emits a real
multi-scan progressive stream (DC al=1 + DC refinement, per-component
spectral AC bands at al=1 + their refinement scans, EOBRUN
accumulation with buffered correction bits — the libjpeg
encode_mcu_AC_refine discipline).  They exist so the oracle gate and
the unit tests can synthesize REAL JPEG byte streams
deterministically: with a flat quant table of 8 and solid 8x8 blocks
the DC round-trips exactly (DC = 8*(v-128), quantized by 8 back to
v-128), so the decoder's output is an exact integer function of the
generating parameters — the same synthesized-real-bytes discipline as
the PNG/BMP/GIF/WAV gates (plans/llm_media_gates.py).  For arbitrary
content the invariant is decode(progressive_encode(img)) ==
decode(baseline_encode(img)) — same quantized coefficients, bit for
bit — which the units exercise on patterned images with real ACs.

Reference parity note: the reference pipeline has no media handling at
all (BASELINE.md); this module is part of the additive multimodal
family (SURVEY.md LLM-ops), extending llm/multimodal.py:jpeg_dimensions
(the r5 header-only parse) to full pixel decode.
"""

from __future__ import annotations

import struct

__all__ = ["decode_jpeg", "encode_jpeg"]


def _zigzag() -> list[int]:
    """The standard JPEG zigzag scan: position k in the stream maps to
    natural index _zigzag()[k]. Generated by the diagonal walk rather
    than transcribed, so it cannot be mistyped."""
    order = []
    for d in range(15):  # anti-diagonals of an 8x8 grid
        rng = range(max(0, d - 7), min(d, 7) + 1)
        cells = [(d - j, j) for j in rng]  # bottom-left -> top-right
        if d % 2 == 1:
            cells.reverse()  # odd diagonals run top-right -> bottom-left
        order.extend(r * 8 + c for r, c in cells)
    return order


_ZZ = _zigzag()


def _idct_matrix():
    import math

    import numpy as np

    c = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            cu = math.sqrt(0.5) if u == 0 else 1.0
            c[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return c


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol for a DHT BITS/HUFFVAL table pair."""
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitReader:
    """MSB-first reader over the byte-stuffed entropy segment.
    0xFF00 unstuffs to a data 0xFF; 0xFFD0-D7 (restart) and any other
    marker stop the stream (restarts are consumed explicitly by the
    MCU loop via ``restart``)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise ValueError(
                    "restart marker inside an entropy run — DRI/MCU "
                    "count mismatch (corrupt stream)"
                )
            else:
                raise ValueError("entropy stream ended before the scan did")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self, idx: int) -> None:
        """Byte-align and consume the expected RSTn marker, n = idx%8."""
        self.acc = 0
        self.n = 0
        if self.buf[self.pos] != 0xFF or self.buf[self.pos + 1] != 0xD0 + idx % 8:
            raise ValueError("missing/false restart marker (corrupt stream)")
        self.pos += 2


def _decode_huff(r: _BitReader, table: dict | None) -> int:
    if table is None:
        raise ValueError("scan uses an undefined Huffman table")
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _dc_coef(v: int) -> int:
    """A DC value about to be stored in an int32 coefficient block.
    Corrupt scans can decode difference categories far past the 16
    bits real ones use, and the running predictor then overflows."""
    if not -(1 << 31) <= v < (1 << 31):
        raise ValueError("DC predictor overflows the coefficient block")
    return v


def _extend(v: int, t: int) -> int:
    """JPEG sign extension (spec F.2.2.1): t-bit magnitude to signed."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - ((1 << t) - 1)


def decode_jpeg(blob: bytes, max_pixels: int = 1 << 24) -> dict:
    """Decode a baseline or progressive JPEG to pixels. Returns
    {"width", "height", "channels", "pixels"} with pixels a flat
    row-major list (channel-interleaved RGB for 3-component scans) —
    the same shape as multimodal.decode_png / decode_bmp / decode_gif
    so the feature stages treat every image format identically.
    ``max_pixels`` (default 16.7M) bounds header-declared dims before
    any coefficient buffer is allocated — the poison-blob memory
    contract shared with decode_png / decode_webp."""
    blob = bytes(blob)
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG byte string (bad SOI marker)")
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    progressive = False
    coefs = None  # per-component zigzag coefficient buffers (SOF2)
    saw_scan = False
    dri = 0
    pos = 2
    while pos + 2 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        while pos + 1 < len(blob) and blob[pos + 1] == 0xFF:
            pos += 1  # fill bytes before a marker are legal
        marker = blob[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        size = struct.unpack(">H", blob[pos : pos + 2])[0]
        seg = blob[pos + 2 : pos + size]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    vals = list(seg[i : i + 64])
                    i += 64
                else:
                    vals = list(
                        struct.unpack(">64H", seg[i : i + 128])
                    )
                    i += 128
                nat = [0] * 64
                for k, z in enumerate(_ZZ):
                    nat[z] = vals[k]  # DQT stores zigzag order
                qt[tq] = nat
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                huff[(tc, th)] = _canonical_codes(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            dri = struct.unpack(">H", seg)[0]
        elif 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if marker not in (0xC0, 0xC1, 0xC2):
                raise NotImplementedError(
                    "only baseline (SOF0/SOF1) and progressive (SOF2) "
                    "JPEG decode; arithmetic/hierarchical scans need a "
                    "full codec"
                )
            progressive = marker == 0xC2
            prec, h, w, nf = struct.unpack(">BHHB", seg[:6])
            if w == 0 or h == 0:
                raise ValueError("JPEG has degenerate dimensions")
            if w * h > max_pixels:
                # poison-blob memory contract (r12, same as decode_png
                # / decode_webp): a 20-byte header declaring 65535^2
                # would make _alloc_coefs attempt a ~17 GB buffer —
                # never trust declared dims for allocation
                raise ValueError(
                    f"JPEG dimensions {w}x{h} exceed the {max_pixels}"
                    f"-pixel decode budget (raise max_pixels)"
                )
            if prec not in (8, 12):
                raise NotImplementedError(
                    f"JPEG sample precision {prec} (8 and 12 decode)"
                )
            comps = []
            for ci in range(nf):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError("invalid JPEG sampling factors")
                comps.append({"id": cid, "tq": tq, "hs": hs, "vs": vs})
            hmax = max(c["hs"] for c in comps)
            vmax = max(c["vs"] for c in comps)
            if any(hmax % c["hs"] or vmax % c["vs"] for c in comps):
                raise NotImplementedError(
                    "non-integer chroma subsampling ratios"
                )
            sof = {"w": w, "h": h, "comps": comps,
                   "hmax": hmax, "vmax": vmax, "prec": prec}
            if progressive:
                coefs = _alloc_coefs(sof)
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("JPEG SOS before SOF frame header")
            if progressive:
                saw_scan = True
                pos = _decode_prog_scan(
                    blob, pos, size, sof, seg, huff, qt, dri, coefs
                )
                continue
            ns = seg[0]
            if ns != len(sof["comps"]):
                raise NotImplementedError(
                    "non-interleaved baseline scans (one scan per "
                    "component) are an encoder rarity this walk skips"
                )
            scan = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si : 3 + 2 * si]
                comp = None
                for c in sof["comps"]:
                    if c["id"] == cs:
                        comp = c
                        break
                if comp is None:
                    raise ValueError(
                        f"JPEG SOS references undeclared component id {cs}"
                    )
                if (0, tdta >> 4) not in huff or (1, tdta & 15) not in huff:
                    raise ValueError(
                        "JPEG SOS references an undeclared Huffman table"
                    )
                if comp["tq"] not in qt:
                    raise ValueError(
                        "JPEG component references an undeclared quant table"
                    )
                scan.append(
                    {
                        "ci": sof["comps"].index(comp),
                        "tq": comp["tq"],
                        "hs": comp["hs"],
                        "vs": comp["vs"],
                        "dc": huff[(0, tdta >> 4)],
                        "ac": huff[(1, tdta & 15)],
                    }
                )
            base_coefs = _alloc_coefs(sof)
            _decode_baseline_entropy(
                blob, pos + size, sof, scan, dri, base_coefs
            )
            return _render(sof, qt, base_coefs)
        pos += size
    if progressive and coefs is not None and saw_scan:
        for c in sof["comps"]:
            if c["tq"] not in qt:
                raise ValueError(
                    "JPEG component references an undeclared quant table"
                )
        return _render(sof, qt, coefs)
    raise ValueError("JPEG has no scan data")


def _alloc_coefs(sof):
    """One zigzag coefficient buffer per component, sized to the
    PADDED (MCU-aligned) block grid — interleaved scans code the
    padding blocks, non-interleaved scans touch only the real ones."""
    import numpy as np

    w, h = sof["w"], sof["h"]
    hmax, vmax = sof["hmax"], sof["vmax"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return [
        np.zeros((mcuy * c["vs"], mcux * c["hs"], 64), dtype=np.int32)
        for c in sof["comps"]
    ]


def _comp_blocks(sof, c) -> tuple[int, int]:
    """(blocks_y, blocks_x) of the component's REAL (unpadded) grid —
    the iteration space of non-interleaved progressive scans."""
    cw = -(-sof["w"] * c["hs"] // sof["hmax"])
    ch = -(-sof["h"] * c["vs"] // sof["vmax"])
    return -(-ch // 8), -(-cw // 8)


def _decode_baseline_entropy(blob, pos, sof, scan, dri, coefs):
    """Baseline interleaved entropy decode into zigzag buffers."""
    w, h = sof["w"], sof["h"]
    hmax, vmax = sof["hmax"], sof["vmax"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    reader = _BitReader(blob, pos)
    preds = [0] * len(scan)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu and mcu % dri == 0:
                reader.restart(mcu // dri - 1)
                preds = [0] * len(scan)
            # interleaved MCU: hs*vs blocks per component, raster order
            for si, sc in enumerate(scan):
                for v in range(sc["vs"]):
                    for u in range(sc["hs"]):
                        blk = coefs[sc["ci"]][my * sc["vs"] + v,
                                              mx * sc["hs"] + u]
                        t = _decode_huff(reader, sc["dc"])
                        preds[si] += _extend(reader.bits(t), t)
                        blk[0] = _dc_coef(preds[si])
                        k = 1
                        while k < 64:
                            rs = _decode_huff(reader, sc["ac"])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL: run of 16 zeros
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[k] = _extend(reader.bits(s), s)
                            k += 1
            mcu += 1


def _render(sof, qt, coefs):
    """Shared final stage: zigzag buffers -> dequant -> one vectorized
    IDCT per component -> upsample/crop -> color convert."""
    import numpy as np

    w, h = sof["w"], sof["h"]
    hmax, vmax = sof["hmax"], sof["vmax"]
    prec = sof.get("prec", 8)
    mid = 1 << (prec - 1)  # level shift: 128 (8-bit) / 2048 (12-bit)
    top = (1 << prec) - 1
    idct = _idct_matrix()
    out = []
    for c, zzc in zip(sof["comps"], coefs):
        qzz = np.array(
            [qt[c["tq"]][_ZZ[k]] for k in range(64)], dtype=float
        )
        deq = zzc.astype(float) * qzz  # dequantize in zigzag order
        nat = np.empty_like(deq)
        nat[:, :, _ZZ] = deq  # zigzag -> natural
        by, bx = nat.shape[:2]
        blocks = nat.reshape(by, bx, 8, 8)
        # pixels[x,y] = sum_uv idct[u,x] * B[u,v] * idct[v,y]
        px = np.einsum("ux,ijuv,vy->ijxy", idct, blocks, idct)
        plane = px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // c["vs"], axis=0),
            hmax // c["hs"],
            axis=1,
        )
        out.append(
            np.clip(np.rint(plane[:h, :w] + mid), 0, top).astype(int)
        )
    if len(out) == 1:
        pixels = out[0].reshape(-1).tolist()
        return {"width": w, "height": h, "channels": 1, "depth": prec,
                "pixels": pixels}
    if len(out) == 3:
        y, cb, cr = (o.astype(float) for o in out)
        r = y + 1.402 * (cr - mid)
        g = y - 0.344136 * (cb - mid) - 0.714136 * (cr - mid)
        b = y + 1.772 * (cb - mid)
        rgb = np.stack(
            [np.clip(np.rint(c), 0, top).astype(int) for c in (r, g, b)],
            axis=-1,
        )
        return {
            "width": w,
            "height": h,
            "channels": 3,
            "depth": prec,
            "pixels": rgb.reshape(-1).tolist(),
        }
    raise NotImplementedError("JPEG scans with 2 or 4+ components")


def _decode_prog_scan(blob, pos, size, sof, seg, huff, qt, dri, coefs):
    """Decode ONE progressive scan into the coefficient buffers;
    returns the stream position of the next marker.  Implements
    Annex G: interleaved DC scans, single-component spectral AC
    scans over the component's real block grid, successive
    approximation (first and refinement passes), EOBn runs, and
    restart-marker state resets."""
    ns = seg[0]
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ahal = seg[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    members = []
    for si in range(ns):
        cs, tdta = seg[1 + 2 * si : 3 + 2 * si]
        ci = None
        for idx, c in enumerate(sof["comps"]):
            if c["id"] == cs:
                ci = idx
                break
        if ci is None:
            raise ValueError(
                f"JPEG SOS references undeclared component id {cs}"
            )
        dc_t = huff.get((0, tdta >> 4))
        ac_t = huff.get((1, tdta & 15))
        members.append({"ci": ci, "dc": dc_t, "ac": ac_t})
    if ss > se or se > 63:
        raise ValueError("invalid progressive spectral band")
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se = 0")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scans are single-component")
    reader = _BitReader(blob, pos + size)
    if ss == 0:
        _prog_dc_scan(reader, sof, members, ah, al, dri, coefs)
    else:
        _prog_ac_scan(reader, sof, members[0], ss, se, ah, al, dri, coefs)
    # skip pad bits, then walk to the next marker
    p = reader.pos
    while p + 1 < len(blob):
        if (
            blob[p] == 0xFF
            and blob[p + 1] != 0x00
            and not (0xD0 <= blob[p + 1] <= 0xD7)
        ):
            return p
        p += 1
    return len(blob)


def _prog_dc_scan(reader, sof, members, ah, al, dri, coefs):
    if len(members) == 1:
        # spec G: a single-component DC scan is NON-interleaved — one
        # block per MCU over the component's own block raster (like AC
        # scans), not the interleaved MCU grid: subsampled components
        # would otherwise decode blocks in the wrong order, touch
        # padding blocks, and misplace restarts
        m = members[0]
        c = sof["comps"][m["ci"]]
        byn, bxn = _comp_blocks(sof, c)
        arr = coefs[m["ci"]]
        pred = 0
        blkno = 0
        for by in range(byn):
            for bx in range(bxn):
                if dri and blkno and blkno % dri == 0:
                    reader.restart(blkno // dri - 1)
                    pred = 0
                blk = arr[by, bx]
                if ah == 0:
                    t = _decode_huff(reader, m["dc"])
                    pred += _extend(reader.bits(t), t)
                    blk[0] = _dc_coef(pred << al)
                elif reader.bit():
                    blk[0] = int(blk[0]) | (1 << al)
                blkno += 1
        return
    w, h = sof["w"], sof["h"]
    hmax, vmax = sof["hmax"], sof["vmax"]
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    preds = [0] * len(members)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu and mcu % dri == 0:
                reader.restart(mcu // dri - 1)
                preds = [0] * len(members)
            for si, m in enumerate(members):
                c = sof["comps"][m["ci"]]
                for v in range(c["vs"]):
                    for u in range(c["hs"]):
                        blk = coefs[m["ci"]][my * c["vs"] + v,
                                             mx * c["hs"] + u]
                        if ah == 0:  # first pass: diff-coded, << al
                            t = _decode_huff(reader, m["dc"])
                            preds[si] += _extend(reader.bits(t), t)
                            blk[0] = _dc_coef(preds[si] << al)
                        else:  # refinement: one raw bit per block
                            if reader.bit():
                                blk[0] = int(blk[0]) | (1 << al)
            mcu += 1


def _prog_ac_scan(reader, sof, m, ss, se, ah, al, dri, coefs):
    c = sof["comps"][m["ci"]]
    byn, bxn = _comp_blocks(sof, c)
    arr = coefs[m["ci"]]
    eobrun = 0
    blkno = 0
    for by in range(byn):
        for bx in range(bxn):
            if dri and blkno and blkno % dri == 0:
                reader.restart(blkno // dri - 1)
                eobrun = 0
            blk = arr[by, bx]
            if ah == 0:
                eobrun = _prog_ac_first(reader, m["ac"], blk, ss, se,
                                        al, eobrun)
            else:
                eobrun = _prog_ac_refine(reader, m["ac"], blk, ss, se,
                                         al, eobrun)
            blkno += 1


def _prog_ac_first(reader, ac, blk, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(reader, ac)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:  # EOBn: run of end-of-bands
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.bits(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past spectral band end")
        blk[k] = _extend(reader.bits(s), s) << al
        k += 1
    return eobrun


def _prog_ac_refine(reader, ac, blk, ss, se, al, eobrun):
    """Annex G.1.2.3 AC successive-approximation refinement: newly
    significant coefficients arrive as +-1<<al with runs counted over
    ZERO-history positions; every nonzero-history coefficient passed
    (and, within an EOB run, every one left in the band) absorbs one
    correction bit."""
    p1, m1 = 1 << al, -1 << al

    def correct(k):
        v = int(blk[k])
        if reader.bit() and (v & p1) == 0:
            blk[k] = v + (p1 if v >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(reader, ac)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break
                # ZRL: skip 16 zero-history positions
                val = 0
            else:
                if s != 1:
                    raise ValueError(
                        "AC refinement symbols carry 1-bit magnitudes"
                    )
                val = p1 if reader.bit() else m1
            while k <= se:
                if int(blk[k]) != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if int(blk[k]) != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


# --- encoder (test/gate substrate) ------------------------------------------

# Custom canonical Huffman tables written into DHT (the decoder reads
# whatever tables the file declares — nothing here is assumed by it).
# DC: the 12 categories as 4-bit codes (Kraft 12/16). AC: EOB, ZRL and
# every (run, size) symbol as 9-bit codes (162/512).
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_AC_BITS = [0] * 8 + [len(_AC_VALS)] + [0] * 7
# 12-bit precision widens the categories: DC diffs reach category 15,
# AC values category 14 (spec F.1.2.1.1).  Flat canonical layouts like
# the 8-bit ones; JPEG tables may be incomplete (the all-ones region
# is reserved), so 226/240 nine-bit codes are conformant.
_DC12_BITS = [0, 0, 0, 16] + [0] * 12
_DC12_VALS = list(range(16))
_AC12_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
_AC12_BITS = [0] * 8 + [len(_AC12_VALS)] + [0] * 7
_PAC12_VALS = [r << 4 for r in range(16)] + [
    (r << 4) | s for r in range(16) for s in range(1, 15)
]
_PAC12_BITS = [0] * 8 + [len(_PAC12_VALS)] + [0] * 7


def _enc_table(bits, vals):
    """symbol -> (code, length) for the encoder side."""
    return {
        sym: (code, ln) for (ln, code), sym in _canonical_codes(bits, vals).items()
    }


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, ln: int) -> None:
        self.acc = (self.acc << ln) | code
        self.n += ln
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def align(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # spec pads with 1-bits
        return bytes(self.out)


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _amplitude(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def _prep_encode(planes, quant, sampling, precision=8):
    """Shared encoder front end: validate, downsample subsampled
    planes, pad to the MCU grid, and quantize EVERY block to zigzag
    integer coefficients — so the baseline and progressive encoders
    emit byte-different streams of IDENTICAL quantized coefficients
    (the decode-equality invariant the units pin)."""
    import numpy as np

    quant = list(quant) if quant is not None else [8] * 64
    arrs = [np.asarray(p, dtype=float) for p in planes]
    h, w = arrs[0].shape
    if any(a.shape != (h, w) for a in arrs) or h % 8 or w % 8:
        raise ValueError("planes must share dims that are multiples of 8")
    samp = list(sampling) if sampling is not None else [(1, 1)] * len(arrs)
    if len(samp) != len(arrs):
        raise ValueError("sampling needs one (h, v) pair per plane")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    def _pad_to(a, th, tw):  # edge replication to target dims
        return np.pad(a, ((0, th - a.shape[0]), (0, tw - a.shape[1])),
                      mode="edge")

    idct = _idct_matrix()
    qz = [quant[_ZZ[k]] for k in range(64)]
    qarr = np.array(qz, dtype=float)
    comp_zz = []
    real_blocks = []
    for a, (hs, vs) in zip(arrs, samp):
        fh, fw = vmax // vs, hmax // hs
        if fh > 1 or fw > 1:  # box-average downsample
            a = _pad_to(a, -(-h // fh) * fh, -(-w // fw) * fw)
            a = a.reshape(
                a.shape[0] // fh, fh, a.shape[1] // fw, fw
            ).mean(axis=(1, 3))
        real_blocks.append((-(-a.shape[0] // 8), -(-a.shape[1] // 8)))
        a = _pad_to(a, mcuy * vs * 8, mcux * hs * 8)
        by, bx = a.shape[0] // 8, a.shape[1] // 8
        blocks = (
            a.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
            - float(1 << (precision - 1))
        )
        f = np.einsum("ux,ijxy,vy->ijuv", idct, blocks, idct)
        flat = f.reshape(by, bx, 64)
        zz = np.rint(flat[:, :, _ZZ] / qarr).astype(np.int32)
        comp_zz.append(zz)
    return {
        "h": h, "w": w, "samp": samp, "hmax": hmax, "vmax": vmax,
        "mcux": mcux, "mcuy": mcuy, "qz": qz, "zz": comp_zz,
        "real_blocks": real_blocks, "prec": precision,
    }


def encode_jpeg(
    planes: list,
    quant: list[int] | None = None,
    restart_interval: int = 0,
    sampling: list[tuple[int, int]] | None = None,
    precision: int = 8,
) -> bytes:
    """Baseline JPEG encoder: 1 plane -> grayscale, 3 planes (Y, Cb,
    Cr; equal full-resolution dims) -> color. ``planes`` are row-major
    2-D lists/arrays of 0-255 ints with dims multiples of 8; ``quant``
    is a 64-long natural-order table (default: flat 8, which
    round-trips solid blocks exactly). ``sampling`` gives per-plane
    (h, v) factors — e.g. [(2, 2), (1, 1), (1, 1)] is 4:2:0 — with
    subsampled planes produced by box averaging and the entropy stream
    emitted in spec MCU-interleaved order. Real output: any conformant
    decoder reads it. ``restart_interval`` emits DRI + RSTn markers
    every n MCUs. ``precision=12`` writes a 12-bit frame: samples
    0-4095, level shift 2048, 16-bit DQT entries, and the widened
    category tables."""
    if precision not in (8, 12):
        raise ValueError("JPEG sample precision must be 8 or 12")
    enc = _prep_encode(planes, quant, sampling, precision)
    samp, mcux, mcuy = enc["samp"], enc["mcux"], enc["mcuy"]
    if precision == 12:
        dc_bits, dc_vals = _DC12_BITS, _DC12_VALS
        ac_bits, ac_vals = _AC12_BITS, _AC12_VALS
    else:
        dc_bits, dc_vals = _DC_BITS, _DC_VALS
        ac_bits, ac_vals = _AC_BITS, _AC_VALS
    dc_t, ac_t = _enc_table(dc_bits, dc_vals), _enc_table(ac_bits, ac_vals)

    def _emit_block(wtr, zz, ci, preds):
        diff = int(zz[0]) - preds[ci]
        preds[ci] = int(zz[0])
        t = _category(diff)
        code, ln = dc_t[t]
        wtr.write(code, ln)
        if t:
            wtr.write(_amplitude(diff, t), t)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, l2 = ac_t[0xF0]
                wtr.write(c, l2)
                run -= 16
            s = _category(v)
            c, l2 = ac_t[(run << 4) | s]
            wtr.write(c, l2)
            wtr.write(_amplitude(v, s), s)
            run = 0
        if run:
            c, l2 = ac_t[0x00]
            wtr.write(c, l2)  # EOB

    wtr = _BitWriter()
    chunks = []
    preds = [0] * len(enc["zz"])
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                chunks.append(wtr.align())
                chunks.append(
                    bytes([0xFF, 0xD0 + (mcu // restart_interval - 1) % 8])
                )
                wtr = _BitWriter()
                preds = [0] * len(enc["zz"])
            for ci, (zzc, (hs, vs)) in enumerate(zip(enc["zz"], samp)):
                for v in range(vs):
                    for u in range(hs):
                        _emit_block(
                            wtr, zzc[my * vs + v, mx * hs + u], ci, preds
                        )
            mcu += 1
    chunks.append(wtr.align())

    nf = len(enc["zz"])
    if precision == 12:
        dqt = _seg(
            0xDB, bytes([0x10]) + struct.pack(">64H", *enc["qz"])
        )
    else:
        dqt = _seg(0xDB, bytes([0]) + bytes(enc["qz"]))
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", precision, enc["h"], enc["w"], nf)
        + b"".join(
            bytes([i + 1, (samp[i][0] << 4) | samp[i][1], 0])
            for i in range(nf)
        ),
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals),
    )
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    sos = _seg(
        0xDA,
        bytes([nf])
        + b"".join(bytes([i + 1, 0x00]) for i in range(nf))
        + bytes([0, 63, 0]),
    )
    return (
        b"\xff\xd8" + dqt + sof + dht + dri + sos
        + b"".join(chunks) + b"\xff\xd9"
    )


def _seg(marker: int, payload: bytes) -> bytes:
    return (
        bytes([0xFF, marker])
        + struct.pack(">H", len(payload) + 2)
        + payload
    )


# Progressive AC tables need EOBn codes (r<<4, r 0..14) in addition
# to ZRL and every (run, size): 176 codes as 9-bit canonical
# (Kraft 176/512).
_PAC_VALS = [r << 4 for r in range(16)] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_PAC_BITS = [0] * 8 + [len(_PAC_VALS)] + [0] * 7


class _ProgWriter:
    """Scan-level writer for progressive entropy segments: wraps
    _BitWriter with EOBRUN + buffered-correction-bit state (the
    libjpeg emit_eobrun discipline) and restart flushing."""

    def __init__(self, dc_t, ac_t):
        self.dc_t = dc_t
        self.ac_t = ac_t
        self.w = _BitWriter()
        self.chunks: list[bytes] = []
        self.eobrun = 0
        self.bebits: list[int] = []

    def sym_ac(self, sym: int) -> None:
        code, ln = self.ac_t[sym]
        self.w.write(code, ln)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.sym_ac(r << 4)
            if r:
                self.w.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.bebits:
            self.w.write(b, 1)
        self.bebits = []

    def restart(self, idx: int) -> None:
        self.flush_eobrun()
        self.chunks.append(self.w.align())
        self.chunks.append(bytes([0xFF, 0xD0 + idx % 8]))
        self.w = _BitWriter()

    def finish(self) -> bytes:
        self.flush_eobrun()
        self.chunks.append(self.w.align())
        return b"".join(self.chunks)


def _enc_dc_first(pw, enc, member_cis, al, restart_interval):
    if len(member_cis) == 1:
        # spec G: single-component DC scans are NON-interleaved — the
        # component's real block raster, restart cadence per block
        # (mirrors _prog_dc_scan's ns == 1 decode path)
        ci = member_cis[0]
        byn, bxn = enc["real_blocks"][ci]
        zzc = enc["zz"][ci]
        pred = 0
        blkno = 0
        for by in range(byn):
            for bx in range(bxn):
                if restart_interval and blkno and blkno % restart_interval == 0:
                    pw.restart(blkno // restart_interval - 1)
                    pred = 0
                val = int(zzc[by, bx, 0]) >> al
                diff = val - pred
                pred = val
                t = _category(diff)
                code, ln = pw.dc_t[t]
                pw.w.write(code, ln)
                if t:
                    pw.w.write(_amplitude(diff, t), t)
                blkno += 1
        return
    samp, mcux, mcuy = enc["samp"], enc["mcux"], enc["mcuy"]
    preds = {ci: 0 for ci in member_cis}
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                pw.restart(mcu // restart_interval - 1)
                preds = {ci: 0 for ci in member_cis}
            for ci in member_cis:
                hs, vs = samp[ci]
                for v in range(vs):
                    for u in range(hs):
                        dc = int(enc["zz"][ci][my * vs + v, mx * hs + u, 0])
                        val = dc >> al  # DC point transform: arith shift
                        diff = val - preds[ci]
                        preds[ci] = val
                        t = _category(diff)
                        code, ln = pw.dc_t[t]
                        pw.w.write(code, ln)
                        if t:
                            pw.w.write(_amplitude(diff, t), t)
            mcu += 1


def _enc_dc_refine(pw, enc, member_cis, al, restart_interval):
    if len(member_cis) == 1:
        ci = member_cis[0]
        byn, bxn = enc["real_blocks"][ci]
        zzc = enc["zz"][ci]
        blkno = 0
        for by in range(byn):
            for bx in range(bxn):
                if restart_interval and blkno and blkno % restart_interval == 0:
                    pw.restart(blkno // restart_interval - 1)
                pw.w.write((int(zzc[by, bx, 0]) >> al) & 1, 1)
                blkno += 1
        return
    samp, mcux, mcuy = enc["samp"], enc["mcux"], enc["mcuy"]
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                pw.restart(mcu // restart_interval - 1)
            for ci in member_cis:
                hs, vs = samp[ci]
                for v in range(vs):
                    for u in range(hs):
                        dc = int(enc["zz"][ci][my * vs + v, mx * hs + u, 0])
                        pw.w.write((dc >> al) & 1, 1)
            mcu += 1


def _enc_ac_first(pw, enc, ci, ss, se, al, restart_interval):
    byn, bxn = enc["real_blocks"][ci]
    zzc = enc["zz"][ci]
    blkno = 0
    for by in range(byn):
        for bx in range(bxn):
            if restart_interval and blkno and blkno % restart_interval == 0:
                pw.restart(blkno // restart_interval - 1)
            blk = zzc[by, bx]
            r = 0
            for k in range(ss, se + 1):
                v = int(blk[k])
                t = abs(v) >> al  # AC point transform: toward zero
                if t == 0:
                    r += 1
                    continue
                pw.flush_eobrun()
                while r > 15:
                    pw.sym_ac(0xF0)
                    r -= 16
                s = t.bit_length()
                pw.sym_ac((r << 4) | s)
                pw.w.write(_amplitude(t if v > 0 else -t, s), s)
                r = 0
            if r > 0:
                pw.eobrun += 1
                if pw.eobrun == 0x7FFF:
                    pw.flush_eobrun()
            blkno += 1


def _enc_ac_refine(pw, enc, ci, ss, se, ah, al, restart_interval):
    """libjpeg encode_mcu_AC_refine: newly-significant coefficients
    ((|c| >> al) == 1) code as (run, 1) + sign over ZERO-history
    positions; already-significant ones contribute correction bits,
    buffered and flushed after each emitted symbol or EOB run.  ZRLs
    (with their buffered correction bits) are emitted at EVERY nonzero
    coefficient once the zero-history run exceeds 15 — gated by
    ``k <= EOB`` (the last newly-significant index, from a pre-pass)
    so trailing runs fold into the EOB run instead — exactly libjpeg's
    ordering: emitting them only at newly-significant coefficients
    desyncs the stream whenever a >=16 zero-history run precedes an
    already-significant coefficient."""
    byn, bxn = enc["real_blocks"][ci]
    zzc = enc["zz"][ci]
    blkno = 0
    for by in range(byn):
        for bx in range(bxn):
            if restart_interval and blkno and blkno % restart_interval == 0:
                pw.restart(blkno // restart_interval - 1)
            blk = zzc[by, bx]
            # pre-pass: EOB = index of the LAST newly-significant coef
            tvals = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            eob = ss - 1
            for k in range(ss, se + 1):
                if tvals[k - ss] == 1:
                    eob = k
            r = 0
            br: list[int] = []
            for k in range(ss, se + 1):
                t = tvals[k - ss]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob:
                    pw.flush_eobrun()
                    pw.sym_ac(0xF0)
                    r -= 16
                    for b in br:
                        pw.w.write(b, 1)
                    br = []
                if t > 1:  # already significant: one correction bit
                    br.append(t & 1)
                    continue
                # newly significant
                pw.flush_eobrun()
                pw.sym_ac((r << 4) | 1)
                pw.w.write(1 if int(blk[k]) > 0 else 0, 1)
                for b in br:
                    pw.w.write(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                pw.eobrun += 1
                pw.bebits.extend(br)
                if pw.eobrun == 0x7FFF:
                    pw.flush_eobrun()
            blkno += 1


def encode_jpeg_progressive(
    planes: list,
    quant: list[int] | None = None,
    sampling: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
    al_first: int = 1,
    ac_bands: tuple[tuple[int, int], ...] = ((1, 5), (6, 63)),
    dc_split: bool = False,
    precision: int = 8,
) -> bytes:
    """Progressive (SOF2) JPEG encoder over the SAME quantized
    coefficients as ``encode_jpeg`` — decode equality between the two
    encodings of one image is exact, bit for bit.  Scan script: one
    interleaved DC first scan at Al=``al_first``, DC refinement scans
    down to Al=0 (one raw bit per block each), then per component and
    spectral band an AC first scan at Al=``al_first`` followed by the
    matching refinement scans — full successive approximation with
    EOBn runs and buffered correction bits.  ``restart_interval``
    emits RSTn every n MCUs (DC scans) / blocks (AC scans)."""
    if precision not in (8, 12):
        raise ValueError("JPEG sample precision must be 8 or 12")
    enc = _prep_encode(planes, quant, sampling, precision)
    samp = enc["samp"]
    nf = len(enc["zz"])
    if precision == 12:
        dc_bits, dc_vals = _DC12_BITS, _DC12_VALS
        ac_bits, ac_vals = _PAC12_BITS, _PAC12_VALS
    else:
        dc_bits, dc_vals = _DC_BITS, _DC_VALS
        ac_bits, ac_vals = _PAC_BITS, _PAC_VALS
    dc_t = _enc_table(dc_bits, dc_vals)
    ac_t = _enc_table(ac_bits, ac_vals)

    def sos_header(cis, ss, se, ah, al):
        payload = bytes([len(cis)])
        for ci in cis:
            payload += bytes([ci + 1, 0x00])
        payload += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, payload)

    scans: list[bytes] = []
    all_cis = list(range(nf))
    # DC: first pass then one refinement per remaining bit.  dc_split
    # emits PER-COMPONENT (non-interleaved) DC scans — the custom
    # jpegtran/libjpeg scan-script shape — exercising the spec-G
    # single-component block-raster path on both sides
    dc_groups = [[ci] for ci in all_cis] if dc_split else [all_cis]
    for cis in dc_groups:
        pw = _ProgWriter(dc_t, ac_t)
        _enc_dc_first(pw, enc, cis, al_first, restart_interval)
        scans.append(sos_header(cis, 0, 0, 0, al_first) + pw.finish())
    for al in range(al_first - 1, -1, -1):
        for cis in dc_groups:
            pw = _ProgWriter(dc_t, ac_t)
            _enc_dc_refine(pw, enc, cis, al, restart_interval)
            scans.append(sos_header(cis, 0, 0, al + 1, al) + pw.finish())
    # AC: per component, per band — first pass then refinements
    for ci in all_cis:
        for ss, se in ac_bands:
            pw = _ProgWriter(dc_t, ac_t)
            _enc_ac_first(pw, enc, ci, ss, se, al_first, restart_interval)
            scans.append(sos_header([ci], ss, se, 0, al_first) + pw.finish())
    for al in range(al_first - 1, -1, -1):
        for ci in all_cis:
            for ss, se in ac_bands:
                pw = _ProgWriter(dc_t, ac_t)
                _enc_ac_refine(
                    pw, enc, ci, ss, se, al + 1, al, restart_interval
                )
                scans.append(
                    sos_header([ci], ss, se, al + 1, al) + pw.finish()
                )

    if precision == 12:
        dqt = _seg(
            0xDB, bytes([0x10]) + struct.pack(">64H", *enc["qz"])
        )
    else:
        dqt = _seg(0xDB, bytes([0]) + bytes(enc["qz"]))
    sof = _seg(
        0xC2,
        struct.pack(">BHHB", precision, enc["h"], enc["w"], nf)
        + b"".join(
            bytes([i + 1, (samp[i][0] << 4) | samp[i][1], 0])
            for i in range(nf)
        ),
    )
    dht = _seg(
        0xC4,
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals),
    )
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return b"\xff\xd8" + dqt + sof + dht + dri + b"".join(scans) + b"\xff\xd9"
