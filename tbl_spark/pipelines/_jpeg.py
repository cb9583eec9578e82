"""Pure-numpy baseline JPEG decoder (ITU-T T.81, a public spec).

Closes VERDICT r6 #4 the way RFC 2083 closed PNG: the dominant web image
format decodes without PIL. Scope — baseline and extended sequential
Huffman DCT (SOF0/SOF1, one interleaved scan or per-component
multi-scan) AND full progressive (SOF2, T.81 Annex G: spectral
selection, successive approximation with DC/AC refinement scans, EOBn
runs), 8- and 12-bit samples (12-bit scaled to 8 round-to-nearest),
grayscale, 3-component YCbCr (JFIF) or flagged raw RGB, and 4-component
Adobe CMYK/YCCK (APP14 transform 0/2, inverted-sample convention) with
arbitrary integer sampling factors (4:4:4, 4:2:2, 4:2:0, 4:1:1, …),
restart intervals, 8- and 16-bit quantization tables. Arithmetic
coding and lossless/hierarchical modes raise NotImplementedError so
those payloads still fall through to the PIL gate; structurally broken
payloads raise ValueError (the corrupt-input contract shared with
`_decode_png`).

Execution shape mirrors the rest of the repo: the inherently sequential
part (Huffman symbol stream) is a tight Python loop over precomputed
numpy artifacts — a flat 2^16-entry code lookup per Huffman table and a
per-restart-segment array of 16-bit bit-windows, so each symbol costs
two array reads — while everything batchable (dequantize, de-zigzag,
IDCT over all blocks at once via two 8x8 matrix contractions, plane
assembly, chroma upsample, YCbCr→RGB) is whole-array numpy. The
bit-window array costs 4 bytes per scan *bit* (32x the entropy-coded
byte size) per restart segment; scans are at most a few MB so the peak
is bounded, and restart intervals shrink it further.

Reference behavior parity: tbl's media columns are opaque bytes
(`types.rs`); decode lives in this repo's pipeline tier only.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order (T.81 Figure 5): ZIGZAG[k] = natural index of the
# k-th coefficient in zigzag order
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

_POW16 = (1 << np.arange(15, -1, -1)).astype(np.uint32)

# 8x8 IDCT basis with the c(u) normalization folded in:
# px = M.T @ C @ M reconstructs spatial samples from natural-order
# coefficients (T.81 A.3.3)
_x = np.arange(8)
_M = 0.5 * np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16)
_M[0] *= 1.0 / np.sqrt(2.0)


class _Huff:
    """Flat 16-bit-peek Huffman decode table: canonical codes from the
    DHT (bits, huffval) spec fill lookup ranges so decode is two array
    reads per symbol (T.81 F.2.2.3 without the per-bit loop)."""

    __slots__ = ("sym", "ln")

    def __init__(self, counts: bytes, symbols: bytes):
        self.sym = np.zeros(1 << 16, dtype=np.uint8)
        self.ln = np.zeros(1 << 16, dtype=np.uint8)
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                if hi > (1 << 16) or k >= len(symbols):
                    raise ValueError("corrupt JPEG: overfull Huffman table")
                self.sym[lo:hi] = symbols[k]
                self.ln[lo:hi] = length
                code += 1
                k += 1
            code <<= 1


def _bit_windows(seg: bytes) -> tuple[np.ndarray, int]:
    """One entropy-coded (destuffed) restart segment → (win, nbits):
    win[i] is the 16-bit big-endian window starting at bit i, all
    precomputed vectorized so the decode loop's peek/receive are O(1)
    array reads. win has nbits+1 entries (the tail windows read the
    zero padding — a decode that needs them is a truncation, surfaced
    by the loop's bounds checks)."""
    bits = np.unpackbits(np.frombuffer(seg, dtype=np.uint8))
    nbits = len(bits)
    padded = np.concatenate([bits, np.zeros(16, np.uint8)])
    w = np.lib.stride_tricks.sliding_window_view(padded, 16)
    return (w[:nbits + 1] @ _POW16).astype(np.uint32), nbits


def _split_scan(buf: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from `start` to the next real marker: split on
    RSTn boundaries and undo 0xFF00 byte stuffing in each segment.
    Returns (segments, position of the terminating marker's 0xFF)."""
    segs, seg_start, pos = [], start, start
    while True:
        ff = buf.find(b"\xff", pos)
        if ff < 0 or ff + 1 >= len(buf):
            raise ValueError("corrupt JPEG: scan runs past end of data")
        nxt = buf[ff + 1]
        if nxt == 0x00:                 # stuffed data byte
            pos = ff + 2
            continue
        if 0xD0 <= nxt <= 0xD7:         # RSTn: segment boundary
            segs.append(buf[seg_start:ff].replace(b"\xff\x00", b"\xff"))
            seg_start = pos = ff + 2
            continue
        segs.append(buf[seg_start:ff].replace(b"\xff\x00", b"\xff"))
        return segs, ff


def _idct_blocks(coefs_zz: np.ndarray, qtable_zz: np.ndarray,
                 prec: int = 8) -> np.ndarray:
    """(nb, 64) zigzag-order quantized coefficients + zigzag-order quant
    table → (nb, 8, 8) uint8 samples. Dequant, de-zigzag, IDCT and level
    shift are one batched pass over every block of a component. 12-bit
    frames (SOF1 extended sequential / SOF2, T.81 Table B.2) level-shift
    by 2048, clip to 0..4095 and scale to 8-bit with exact
    round-to-nearest — the repo's media features are 8-bit RGB."""
    nat = np.zeros_like(coefs_zz, dtype=np.float64)
    nat[:, ZIGZAG] = coefs_zz * qtable_zz.astype(np.int64)
    c = nat.reshape(-1, 8, 8)
    # two batched GEMMs (BLAS) instead of einsum: px = M.T @ C @ M
    px = (_M.T @ c) @ _M
    np.round(px, out=px)
    top = (1 << prec) - 1
    px += float(1 << (prec - 1))
    np.clip(px, 0, top, out=px)
    if prec == 8:
        return px.astype(np.uint8)
    v = px.astype(np.int64)
    return ((v * 255 + top // 2) // top).astype(np.uint8)


def _assemble_plane(blocks: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Row-major block-grid (bh*bw, 8, 8) blocks of one component → its
    sample plane (bh*8, bw*8). Coefficients are stored in the padded
    raster block grid (not MCU order) so interleaved and
    non-interleaved scans write to the same layout."""
    a = blocks.reshape(bh, bw, 8, 8)
    return a.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray
                  ) -> np.ndarray:
    """JFIF full-range YCbCr → RGB (ITU-T T.871 §7)."""
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64)
    cbf -= 128.0
    crf = cr.astype(np.float64)
    crf -= 128.0
    rgb = np.empty(y.shape + (3,), dtype=np.float64)
    np.multiply(crf, 1.402, out=rgb[..., 0])
    rgb[..., 0] += yf
    np.multiply(cbf, -0.344136, out=rgb[..., 1])
    rgb[..., 1] -= 0.714136 * crf
    rgb[..., 1] += yf
    np.multiply(cbf, 1.772, out=rgb[..., 2])
    rgb[..., 2] += yf
    np.round(rgb, out=rgb)
    np.clip(rgb, 0, 255, out=rgb)
    return rgb.astype(np.uint8)


_SOF_UNSUPPORTED = {
    0xC5: "differential sequential", 0xC6: "differential progressive",
    0xC7: "differential lossless", 0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive", 0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def _lossless_scan_diffs(seg, scan_list, total_units):
    """Entropy-decode one lossless scan (T.81 Annex H): per sample, an
    SSSS category from a DC-class Huffman table + extend bits, category
    16 meaning a fixed 32768 difference. scan_list: (flat int32 diff
    grid, huff) per scan component, interleaved one sample each per
    unit. Per-sample Python like the DCT scan loops — the inherently
    sequential Huffman walk over _bit_windows artifacts."""
    win, nbits = _bit_windows(seg)
    pos = 0
    try:
        for unit in range(total_units):
            for d, huff in scan_list:
                w = win[pos]
                s = int(huff.sym[w])
                ln = int(huff.ln[w])
                if ln == 0:
                    raise ValueError("corrupt JPEG: invalid Huffman code")
                pos += ln
                if s == 0:
                    v = 0
                elif s == 16:
                    v = 32768
                elif s > 16:
                    raise ValueError("corrupt JPEG: lossless SSSS > 16")
                else:
                    v = int(win[pos]) >> (16 - s)
                    pos += s
                    if v < (1 << (s - 1)):
                        v -= (1 << s) - 1
                d[unit] = v
            if pos > nbits:
                raise ValueError("corrupt JPEG: entropy stream exhausted")
    except IndexError:
        raise ValueError("corrupt JPEG: entropy stream exhausted") \
            from None


def _lossless_reconstruct(d: np.ndarray, sel: int, prec: int,
                          pt: int) -> np.ndarray:
    """(h, w) int32 differences → (h, w) int64 samples (mod 2^16
    arithmetic per T.81 H). First sample predicts 1 << (P - Pt - 1),
    the rest of the first line uses Ra, the first sample of later
    lines uses Rb (H.2.1); predictors 1-4 reconstruct as vectorized
    row recurrences (4 telescopes: sum of Rb - Rc along a row
    collapses), 5-7 carry a true per-sample dependency through the
    >> 1 and run as Python rows — fixture-scale honest, noted as the
    slow path for megapixel lossless corpora."""
    h, w = d.shape
    d = d.astype(np.int64)
    s = np.zeros((h, w), dtype=np.int64)
    s[0] = (np.cumsum(d[0]) + (1 << (prec - pt - 1))) & 0xFFFF
    for y in range(1, h):
        s0 = (s[y - 1, 0] + d[y, 0]) & 0xFFFF     # first col: Rb
        s[y, 0] = s0
        if w == 1:
            continue
        if sel == 1:
            s[y] = (np.cumsum(d[y]) + s[y - 1, 0]) & 0xFFFF
        elif sel == 2:
            s[y, 1:] = (s[y - 1, 1:] + d[y, 1:]) & 0xFFFF
        elif sel == 3:
            s[y, 1:] = (s[y - 1, :-1] + d[y, 1:]) & 0xFFFF
        elif sel == 4:
            # Ra + Rb - Rc + d: the Ra recurrence telescopes along the
            # row into cumsum(d) + (Rb - first Rb) + first Ra
            s[y, 1:] = (s0 - s[y - 1, 0] + s[y - 1, 1:]
                        + np.cumsum(d[y, 1:])) & 0xFFFF
        else:
            above = s[y - 1]
            row = s[y]
            ra = int(s0)
            if sel == 5:
                for x in range(1, w):
                    ra = (ra + ((int(above[x]) - int(above[x - 1])) >> 1)
                          + int(d[y, x])) & 0xFFFF
                    row[x] = ra
            elif sel == 6:
                for x in range(1, w):
                    ra = (int(above[x])
                          + ((ra - int(above[x - 1])) >> 1)
                          + int(d[y, x])) & 0xFFFF
                    row[x] = ra
            elif sel == 7:
                for x in range(1, w):
                    ra = (((ra + int(above[x])) >> 1)
                          + int(d[y, x])) & 0xFFFF
                    row[x] = ra
            else:
                raise ValueError(
                    f"corrupt JPEG: lossless predictor {sel}")
    return s


def _decode_scan(segs, comps, n_units, units_per_seg, Ss, Se, Ah, Al,
                 mode, dc_max=11):
    """Entropy-decode one scan into the components' coefficient grids.

    comps: list of (coef (n_blocks, 64) int32, didx (n_units, nb) int64
    padded-grid block indices, dc (_Huff | None), ac (_Huff | None)).
    mode: 'seq' (sequential: DC diff + AC with per-block EOB, Al
    ignored per baseline practice), 'dc_first' / 'dc_refine' /
    'ac_first' / 'ac_refine' (progressive, T.81 G.1.2). Restart
    boundaries (the `segs` list) reset DC predictors and the EOB run.

    The loops are the repo's one sequential hot path: per symbol, two
    array reads against the flat Huffman lookups plus a 16-bit window
    read (see _bit_windows)."""
    unit = 0
    for seg in segs:
        if unit >= n_units:
            break
        win, nbits = _bit_windows(seg)
        pos = 0
        preds = [0] * len(comps)
        eobrun = 0
        seg_end = min(n_units, unit + units_per_seg)
        try:
            while unit < seg_end:
                for ci, (co, didx, dc, ac) in enumerate(comps):
                    row_ids = didx[unit]
                    if mode == "seq":
                        dsym, dln = dc.sym, dc.ln
                        asym, aln = ac.sym, ac.ln
                        pred = preds[ci]
                        for idx in row_ids:
                            row = co[idx]
                            w = win[pos]
                            s = int(dsym[w])
                            ln = int(dln[w])
                            if ln == 0:
                                raise ValueError(
                                    "corrupt JPEG: invalid Huffman code")
                            pos += ln
                            if s:
                                if s > dc_max:
                                    raise ValueError(
                                        f"corrupt JPEG: DC size > "
                                        f"{dc_max}")
                                v = int(win[pos]) >> (16 - s)
                                pos += s
                                if v < (1 << (s - 1)):
                                    v -= (1 << s) - 1
                                pred += v
                            row[0] = pred
                            k = 1
                            while k < 64:
                                w = win[pos]
                                rs = int(asym[w])
                                ln = int(aln[w])
                                if ln == 0:
                                    raise ValueError(
                                        "corrupt JPEG: invalid Huffman "
                                        "code")
                                pos += ln
                                s = rs & 0x0F
                                if s == 0:
                                    if rs != 0xF0:      # EOB
                                        break
                                    k += 16             # ZRL
                                    continue
                                k += rs >> 4
                                if k > 63:
                                    raise ValueError(
                                        "corrupt JPEG: AC index past "
                                        "block end")
                                v = int(win[pos]) >> (16 - s)
                                pos += s
                                if v < (1 << (s - 1)):
                                    v -= (1 << s) - 1
                                row[k] = v
                                k += 1
                        preds[ci] = pred
                    elif mode == "dc_first":
                        dsym, dln = dc.sym, dc.ln
                        pred = preds[ci]
                        for idx in row_ids:
                            w = win[pos]
                            s = int(dsym[w])
                            ln = int(dln[w])
                            if ln == 0:
                                raise ValueError(
                                    "corrupt JPEG: invalid Huffman code")
                            pos += ln
                            if s:
                                if s > dc_max:
                                    raise ValueError(
                                        f"corrupt JPEG: DC size > "
                                        f"{dc_max}")
                                v = int(win[pos]) >> (16 - s)
                                pos += s
                                if v < (1 << (s - 1)):
                                    v -= (1 << s) - 1
                                pred += v
                            co[idx, 0] = pred << Al
                        preds[ci] = pred
                    elif mode == "dc_refine":
                        for idx in row_ids:
                            if int(win[pos]) >> 15:
                                co[idx, 0] |= 1 << Al
                            pos += 1
                    elif mode == "ac_first":
                        asym, aln = ac.sym, ac.ln
                        row = co[row_ids[0]]
                        if eobrun:
                            eobrun -= 1
                        else:
                            k = Ss
                            while k <= Se:
                                w = win[pos]
                                rs = int(asym[w])
                                ln = int(aln[w])
                                if ln == 0:
                                    raise ValueError(
                                        "corrupt JPEG: invalid Huffman "
                                        "code")
                                pos += ln
                                s = rs & 0x0F
                                r = rs >> 4
                                if s == 0:
                                    if r == 15:
                                        k += 16         # ZRL
                                        continue
                                    eobrun = (1 << r) - 1
                                    if r:
                                        eobrun += int(win[pos]) >> (16 - r)
                                        pos += r
                                    break
                                k += r
                                if k > Se:
                                    raise ValueError(
                                        "corrupt JPEG: AC index past "
                                        "band end")
                                v = int(win[pos]) >> (16 - s)
                                pos += s
                                if v < (1 << (s - 1)):
                                    v -= (1 << s) - 1
                                row[k] = v << Al
                                k += 1
                    else:                       # ac_refine (G.1.2.3)
                        asym, aln = ac.sym, ac.ln
                        row = co[row_ids[0]]
                        p1 = 1 << Al
                        m1 = -1 << Al
                        k = Ss
                        if eobrun == 0:
                            while k <= Se:
                                w = win[pos]
                                rs = int(asym[w])
                                ln = int(aln[w])
                                if ln == 0:
                                    raise ValueError(
                                        "corrupt JPEG: invalid Huffman "
                                        "code")
                                pos += ln
                                s = rs & 0x0F
                                r = rs >> 4
                                val = 0
                                if s == 0:
                                    if r != 15:         # EOBn
                                        eobrun = 1 << r
                                        if r:
                                            eobrun += (int(win[pos])
                                                       >> (16 - r))
                                            pos += r
                                        break
                                    # ZRL: skip 16 zero-history slots
                                else:
                                    if s != 1:
                                        raise ValueError(
                                            "corrupt JPEG: AC "
                                            "refinement size != 1")
                                    val = p1 if int(win[pos]) >> 15 \
                                        else m1
                                    pos += 1
                                while k <= Se:
                                    c = int(row[k])
                                    if c:
                                        if int(win[pos]) >> 15:
                                            if not (c & p1):
                                                row[k] = c + (
                                                    p1 if c >= 0 else m1)
                                        pos += 1
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if val and k <= Se:
                                    row[k] = val
                                k += 1
                        if eobrun:
                            while k <= Se:
                                c = int(row[k])
                                if c:
                                    if int(win[pos]) >> 15:
                                        if not (c & p1):
                                            row[k] = c + (
                                                p1 if c >= 0 else m1)
                                    pos += 1
                                k += 1
                            eobrun -= 1
                if pos > nbits:
                    raise ValueError(
                        "corrupt JPEG: entropy stream exhausted")
                unit += 1
        except IndexError:
            raise ValueError(
                "corrupt JPEG: entropy stream exhausted") from None
    if unit < n_units:
        raise ValueError("corrupt JPEG: scan ended before the last unit")


def decode_jpeg(payload: bytes) -> np.ndarray | None:
    """JPEG payload → (H, W, 3) uint8 RGB, or None when the payload is
    not JPEG at all (no SOI magic — other formats fall through to their
    own decoders). Covers baseline and extended sequential (SOF0/1,
    interleaved or per-component multi-scan) and full progressive
    (SOF2: spectral selection + successive approximation, T.81 Annex
    G). 12-bit frames scale to 8-bit output;
    4-component frames follow the Adobe APP14 CMYK/YCCK convention.
    Arithmetic entropy coding and the hierarchical modes stay behind
    the explicit NotImplementedError gate."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    frame = None            # (H, W, [(comp_id, h, v, tq)], progressive)
    geom = None             # per-component grid geometry after SOF
    coefs: list[np.ndarray] = []
    restart_interval = 0
    n_scans = 0
    prec_bits = 8
    adobe_transform = None  # APP14 "Adobe" color-transform flag
    pos = 2
    while True:
        if pos + 2 > len(payload):
            raise ValueError("corrupt JPEG: ran out of data before EOI")
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker, got data")
        marker = payload[pos + 1]
        if marker == 0xFF:              # fill byte
            pos += 1
            continue
        if marker == 0xD9:              # EOI
            break
        if pos + 4 > len(payload):
            raise ValueError("corrupt JPEG: truncated marker segment")
        (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("corrupt JPEG: truncated segment")
        if marker == 0xDB:              # DQT (possibly several tables)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                off += 1
                n = 64 * (2 if pq else 1)
                if off + n > len(body):
                    raise ValueError("corrupt JPEG: truncated DQT")
                dt = ">64H" if pq else "64B"
                qtables[tq] = np.array(
                    struct.unpack(dt, body[off:off + n]), dtype=np.int64)
                off += n
        elif marker == 0xC4:            # DHT (possibly several tables)
            off = 0
            while off + 17 <= len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                counts = body[off + 1:off + 17]
                nsym = sum(counts)
                symbols = body[off + 17:off + 17 + nsym]
                if len(symbols) != nsym:
                    raise ValueError("corrupt JPEG: truncated DHT")
                (huff_ac if tc else huff_dc)[th] = _Huff(counts, symbols)
                off += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):  # seq/prog/lossless
            if frame is not None:
                raise ValueError("corrupt JPEG: second SOF")
            prec, hh, ww, nc = struct.unpack(">BHHB", body[:6])
            lossless = marker == 0xC3
            if lossless:
                if not (2 <= prec <= 16):
                    raise ValueError(
                        "corrupt JPEG: lossless precision out of range")
            elif prec not in (8, 12):
                raise NotImplementedError(
                    f"JPEG sample precision {prec} not supported by the "
                    "pure-numpy decoder (8- and 12-bit only); install "
                    "PIL")
            if nc not in (1, 3, 4) or (lossless and nc == 4):
                raise NotImplementedError(
                    f"JPEG with {nc} components not supported by the "
                    "pure-numpy decoder; install PIL")
            if hh == 0 or ww == 0:
                raise NotImplementedError(
                    "JPEG with DNL-deferred dimensions not supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack(
                    ">BBB", body[6 + 3 * i:9 + 3 * i])
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
                raise ValueError(
                    "corrupt JPEG: sampling factors out of range")
            if lossless:
                # no 8x8 blocking: per-component sample grids hold the
                # Huffman-decoded DIFFERENCES until final reconstruction
                geom = []
                for cid, h, v, _tq in comps:
                    cw = -(-ww * h // hmax)
                    chh = -(-hh * v // vmax)
                    geom.append({"h": h, "v": v, "cw": cw, "chh": chh})
                    coefs.append(np.zeros(chh * cw, dtype=np.int32))
                lossless_meta = [None] * nc     # (predictor, Pt) per comp
                frame = (hh, ww, comps, "lossless", hmax, vmax, 0, 0)
                prec_bits = prec
                pos += 2 + seglen
                continue
            mcus_x = -(-ww // (8 * hmax))
            mcus_y = -(-hh // (8 * vmax))
            geom = []
            for cid, h, v, tq in comps:
                bw_pad, bh_pad = mcus_x * h, mcus_y * v
                cw = -(-ww * h // hmax)      # component sample dims
                chh = -(-hh * v // vmax)
                bw_t, bh_t = -(-cw // 8), -(-chh // 8)
                # interleaved unit (MCU) -> padded raster block indices
                m = np.arange(mcus_x * mcus_y, dtype=np.int64)
                my, mx = m // mcus_x, m % mcus_x
                b = np.arange(v * h, dtype=np.int64)
                bv, bhh = b // h, b % h
                mcu_idx = ((my[:, None] * v + bv[None, :]) * bw_pad
                           + mx[:, None] * h + bhh[None, :])
                # non-interleaved unit (tight-grid block) -> padded
                u = np.arange(bw_t * bh_t, dtype=np.int64)
                blk_idx = ((u // bw_t) * bw_pad + u % bw_t)[:, None]
                geom.append({"h": h, "v": v, "tq": tq,
                             "bw_pad": bw_pad, "bh_pad": bh_pad,
                             "bw_t": bw_t, "bh_t": bh_t,
                             "mcu_idx": mcu_idx, "blk_idx": blk_idx})
                coefs.append(np.zeros((bw_pad * bh_pad, 64),
                                      dtype=np.int32))
            frame = (hh, ww, comps, marker == 0xC2,
                     hmax, vmax, mcus_x, mcus_y)
            prec_bits = prec
        elif marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"JPEG {_SOF_UNSUPPORTED[marker]} (SOF{marker - 0xC0}) "
                "not supported by the pure-numpy decoder; install PIL")
        elif marker == 0xDD:            # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_transform = body[11]  # 0=CMYK/RGB, 1=YCbCr, 2=YCCK
        elif marker == 0xDA:            # SOS: decode this scan
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            hh, ww, comps, progressive, hmax, vmax, mcus_x, mcus_y = frame
            ns = body[0]
            by_id = {c[0]: i for i, c in enumerate(comps)}
            scan_cis = []
            scan_tabs = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in by_id:
                    raise ValueError(
                        "corrupt JPEG: scan names unknown component")
                scan_cis.append(by_id[cs])
                scan_tabs.append((tt >> 4, tt & 0x0F))
            Ss, Se, AhAl = body[1 + 2 * ns:4 + 2 * ns]
            Ah, Al = AhAl >> 4, AhAl & 0x0F
            if progressive == "lossless":
                # T.81 Annex H scan: Ss is the predictor selector, Al
                # the point transform; entropy coding is DC-class SSSS
                if not (1 <= Ss <= 7) or Se != 0 or Ah != 0:
                    raise ValueError(
                        "corrupt JPEG: bad lossless scan header")
                if Al >= prec_bits:
                    raise ValueError(
                        "corrupt JPEG: point transform >= precision")
                if ns > 1 and any(geom[ci]["h"] != 1 or geom[ci]["v"] != 1
                                  for ci in scan_cis):
                    raise NotImplementedError(
                        "interleaved lossless JPEG with subsampled "
                        "components not supported; install PIL")
                scan_list = []
                for ci, (td, _ta) in zip(scan_cis, scan_tabs):
                    if td not in huff_dc:
                        raise ValueError(
                            "corrupt JPEG: missing Huffman table")
                    scan_list.append((coefs[ci], huff_dc[td]))
                    lossless_meta[ci] = (Ss, Al)
                g0 = geom[scan_cis[0]]
                segs, end = _split_scan(payload, pos + 2 + seglen)
                if len(segs) != 1 or restart_interval:
                    raise NotImplementedError(
                        "lossless JPEG with restart intervals not "
                        "supported; install PIL")
                _lossless_scan_diffs(segs[0], scan_list,
                                     g0["chh"] * g0["cw"])
                n_scans += 1
                pos = end
                continue
            if progressive:
                if Ss == 0 and Se == 0:
                    mode = "dc_refine" if Ah else "dc_first"
                elif Ss >= 1 and Se <= 63 and Ss <= Se:
                    if ns != 1:
                        raise ValueError("corrupt JPEG: interleaved "
                                         "progressive AC scan")
                    mode = "ac_refine" if Ah else "ac_first"
                else:
                    raise ValueError(
                        f"corrupt JPEG: bad spectral band {Ss}..{Se}")
            else:
                mode = "seq"
                Ss, Se, Ah, Al = 0, 63, 0, 0
            need_dc = mode in ("seq", "dc_first")
            need_ac = mode in ("seq", "ac_first", "ac_refine")
            scan_comps = []
            for ci, (td, ta) in zip(scan_cis, scan_tabs):
                if (need_dc and td not in huff_dc) \
                        or (need_ac and ta not in huff_ac):
                    raise ValueError("corrupt JPEG: missing "
                                     "Huffman table")
                g = geom[ci]
                didx = g["mcu_idx"] if ns > 1 else g["blk_idx"]
                scan_comps.append((coefs[ci], didx,
                                   huff_dc.get(td), huff_ac.get(ta)))
            if ns > 1:
                n_units = mcus_x * mcus_y
            else:
                g = geom[scan_cis[0]]
                n_units = g["bw_t"] * g["bh_t"]
            segs, end = _split_scan(payload, pos + 2 + seglen)
            _decode_scan(segs, scan_comps, n_units,
                         restart_interval or n_units,
                         Ss, Se, Ah, Al, mode,
                         dc_max=11 if prec_bits == 8 else 15)
            n_scans += 1
            pos = end
            continue
        # APPn / COM / DNL / anything else with a length: skip
        pos += 2 + seglen

    if frame is None or n_scans == 0:
        raise ValueError("corrupt JPEG: no frame or no scan before EOI")
    hh, ww, comps, _prog, hmax, vmax, mcus_x, mcus_y = frame
    if _prog == "lossless":
        maxv = (1 << prec_bits) - 1
        planes = []
        for ci, (cid, h, v, _tq) in enumerate(comps):
            if lossless_meta[ci] is None:
                raise ValueError(
                    "corrupt JPEG: component never scanned")
            sel, pt = lossless_meta[ci]
            g = geom[ci]
            s = _lossless_reconstruct(
                coefs[ci].reshape(g["chh"], g["cw"]), sel,
                prec_bits, pt)
            v8 = np.clip(((s << pt) * 255 + maxv // 2) // maxv,
                         0, 255).astype(np.uint8)
            yi = np.arange(hh) * v // vmax
            xi = np.arange(ww) * h // hmax
            planes.append(v8[yi][:, xi])
        if len(planes) == 1:
            return np.ascontiguousarray(
                np.repeat(planes[0][:, :, None], 3, axis=2))
        if adobe_transform == 1:
            return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
        # lossless color defaults to no transform (DNG/DICOM practice)
        return np.ascontiguousarray(np.stack(planes, axis=2))
    planes = []
    for ci, (cid, h, v, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("corrupt JPEG: missing quantization table")
        g = geom[ci]
        blocks = _idct_blocks(coefs[ci], qtables[tq], prec=prec_bits)
        plane = _assemble_plane(blocks, g["bh_pad"], g["bw_pad"])
        # map image coordinates through the component's sampling ratio
        yi = np.arange(hh) * v // vmax
        xi = np.arange(ww) * h // hmax
        planes.append(plane[yi][:, xi])
    if len(planes) == 1:
        return np.ascontiguousarray(
            np.repeat(planes[0][:, :, None], 3, axis=2))
    if len(planes) == 4:
        # Adobe 4-component convention: samples are stored INVERTED
        # (255 - ink), with or without the YCbCr transform on the first
        # three (APP14 transform 2 = YCCK, 0/absent = CMYK). Inverted
        # CMY is exactly the multiplicative factor CMYK->RGB needs:
        # R = (255-C)(255-K)/255 = s_c * s_k / 255 (PIL's CMYK;I +
        # ImageCms-free conversion, the libjpeg-compatible reading).
        if adobe_transform == 2:
            cmy = _ycbcr_to_rgb(planes[0], planes[1], planes[2])
        else:
            cmy = np.stack(planes[:3], axis=2)
        k = planes[3].astype(np.uint32)[:, :, None]
        return ((cmy.astype(np.uint32) * k + 127) // 255).astype(np.uint8)
    if adobe_transform == 0:
        # three components, explicitly flagged "no transform": raw RGB
        return np.ascontiguousarray(np.stack(planes, axis=2))
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
