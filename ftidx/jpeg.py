"""Baseline JPEG codec — pure numpy + stdlib, zero new dependencies.

Decoder: ITU T.81 baseline sequential DCT (SOF0/SOF1) — marker parse,
canonical Huffman entropy decode (spec F.2.2 DECODE with
mincode/maxcode/valptr), dequantization, orthonormal 8x8 IDCT,
restart-marker segments, byte destuffing. EVERY component is
reconstructed: ``jpeg_decode`` returns the luma plane as uint8 (H, W)
— JPEG's Y channel *is* BT.601 luma, exactly the plane
``bmp_decode``/``png_decode`` reduce to — and ``jpeg_decode_rgb``
upsamples the subsampled Cb/Cr planes (sample replication) and
inverts BT.601 to full (H, W, 3) RGB, so color features are real on
color JPEGs.

Encoder: baseline sequential with the Annex K quantization tables
(libjpeg quality scaling) and Annex K Huffman tables, grayscale or
4:2:0 YCbCr (chroma defaults to flat 128 for grayscale sources; real
chroma planes can be passed to exercise decoders). Emits optional
restart intervals. Both halves are spec-conformant — the tables ride
in DQT/DHT segments, so output decodes in any JPEG reader.

Honest gates (same contract as the BMP/PNG codecs): progressive
(SOF2), arithmetic coding (SOF9-11), hierarchical, and 12-bit
precision raise ``NotImplementedError`` naming the real-backend
dependency.

Scale note: the per-block Python Huffman loop serves fixture/test
sizes; production-width rasters belong to the `real` backend gate in
:mod:`ftidx.multimodal`. The Spark-side value is the plumbing —
payloads stay Arrow binary end-to-end and decode inside mapInPandas
batches (multimodal.image_features / resize_images).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag position -> natural (row-major) index, T.81 Figure 5
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)

# Annex K.1/K.2 quantization tables (natural order)
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
QT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# Annex K.3 Huffman table specs: (BITS[1..16], HUFFVAL)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]
AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix M: forward F = M B M^T, inverse
    B = M^T F M. M[u,x] = c(u) cos((2x+1)u*pi/16) with c(0)=sqrt(1/8),
    c(u)=1/2 — exactly T.81 A.3.3's scaling (1/4 C(u)C(v) sum ...)."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0] *= np.sqrt(0.5)
    return m * 0.5


_DCT_M = _dct_matrix()


# --------------------------------------------------------------- huffman

def _build_codes(bits, vals):
    """Spec C.2: canonical (code, size) per symbol, encoder view."""
    codes, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """Spec F.2.2.3 DECODE tables: mincode/maxcode/valptr per length."""

    def __init__(self, bits, vals):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                code += n
                k += n
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, br):
        length, code = 1, br.bit()
        while code > self.maxcode[length]:
            length += 1
            if length > 16:
                raise ValueError("corrupt JPEG: Huffman code overrun")
            code = (code << 1) | br.bit()
        return self.vals[self.valptr[length] + code - self.mincode[length]]


class _BitReader:
    """MSB-first reader over a destuffed entropy segment."""

    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, np.uint8)).tolist()
        self.pos = 0

    def bit(self) -> int:
        b = self.bits[self.pos]
        self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bits[self.pos]
            self.pos += 1
        return v


def _extend(v: int, s: int) -> int:
    """Spec F.2.2.1 EXTEND: map the s low bits to a signed amplitude."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# --------------------------------------------------------------- decoder

_GATE = {
    0xC2: "progressive JPEG (SOF2)",
    0xC3: "lossless JPEG (SOF3)",
    0xC5: "differential sequential JPEG (SOF5)",
    0xC6: "differential progressive JPEG (SOF6)",
    0xC7: "differential lossless JPEG (SOF7)",
    0xC9: "arithmetic-coded JPEG (SOF9)",
    0xCA: "arithmetic progressive JPEG (SOF10)",
    0xCB: "arithmetic lossless JPEG (SOF11)",
}


def jpeg_decode(b: bytes) -> np.ndarray:
    """Baseline JPEG bytes → luma (H, W) uint8 plane (the Y channel
    IS BT.601 luma).  :func:`jpeg_decode_rgb` returns full color.
    Non-baseline modes raise ``NotImplementedError`` with the
    honest-gate contract of the other native codecs."""
    h, w, comps, planes, hmax, vmax, interleaved = _decode_components(b)
    lum_cid, lum_h, lum_v, _ = comps[0]
    if not interleaved:
        lum_h = lum_v = 1
    out_h = h if (not interleaved or lum_v == vmax) else -(-h * lum_v // vmax)
    out_w = w if (not interleaved or lum_h == hmax) else -(-w * lum_h // hmax)
    plane = planes[lum_cid]
    return np.clip(plane[:out_h, :out_w].round(), 0, 255).astype(np.uint8)


def jpeg_decode_rgb(b: bytes) -> np.ndarray:
    """Baseline JPEG bytes → (H, W, 3) uint8 RGB.

    Every component is reconstructed (not just luma): subsampled
    Cb/Cr planes are upsampled by sample replication to the luma
    raster (integer factors — 4:2:0/4:2:2/4:4:4 all qualify in
    baseline), then converted with the BT.601 inverse the encoder
    uses (R = Y + 1.402·(Cr−128), G = Y − 0.344136·(Cb−128) −
    0.714136·(Cr−128), B = Y + 1.772·(Cb−128)).  A grayscale (one-
    component) JPEG returns its luma replicated across the three
    channels."""
    h, w, comps, planes, hmax, vmax, interleaved = _decode_components(b)
    # the first component is normally max-sampled (factors == hmax/vmax,
    # so the repeat below is the identity copy), but a valid baseline
    # stream may subsample it relative to another component — upsample
    # it to the full raster exactly like chroma instead of slicing a
    # too-small plane into a broadcast error
    lum_cid, lum_h, lum_v, _ = comps[0]
    if not interleaved:
        # a lone component's plane is full-raster whatever factors it
        # declares: no slice, no upsampling
        lum_h, lum_v = hmax, vmax
    if hmax % lum_h or vmax % lum_v:
        raise NotImplementedError(
            "non-integer luma subsampling requires a real codec")
    y = planes[lum_cid][:-(-h * lum_v // vmax), :-(-w * lum_h // hmax)]
    y = np.repeat(np.repeat(y, vmax // lum_v, axis=0), hmax // lum_h, axis=1)
    y = np.clip(y[:h, :w], 0.0, 255.0)
    if len(comps) == 1:
        g = y.round().astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if len(comps) != 3:
        raise NotImplementedError(
            f"{len(comps)}-component JPEG (CMYK/YCCK) requires a real "
            f"codec backend; native decodes grayscale and YCbCr")
    up = []
    for cid, ch, cv, _ in comps[1:]:
        if not interleaved:
            ch = cv = 1
        if hmax % ch or vmax % cv:
            raise NotImplementedError(
                "non-integer chroma subsampling requires a real codec")
        nat_h = -(-h * cv // vmax)
        nat_w = -(-w * ch // hmax)
        p = planes[cid][:nat_h, :nat_w]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        up.append(np.clip(p[:h, :w], 0.0, 255.0))
    cb, cr = up
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, bl], axis=-1).round(),
                   0, 255).astype(np.uint8)


def _decode_components(b: bytes):
    """Shared baseline decoder: parse markers, entropy-decode and
    reconstruct EVERY component's plane with its own quantization
    table.  Returns (h, w, comps, {cid: float plane}, hmax, vmax,
    interleaved); planes are padded to whole MCUs (callers crop)."""
    if len(b) < 4 or b[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")

    qt = {}          # tq -> natural-order int64[64]
    huff = {}        # (tc, th) -> _HuffDecoder
    frame = None     # (H, W, comps) ; comps = [(cid, h, v, tq)]
    restart = 0
    pos = 2
    scan = None      # (scan_comps, segments)

    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1  # legal fill bytes before a marker (B.1.1.2)
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in _GATE:
            raise NotImplementedError(
                f"{_GATE[marker]} requires a real codec backend "
                f"(Pillow); native baseline decodes SOF0/SOF1 only")
        ln = struct.unpack_from(">H", b, pos)[0]
        seg = b[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq:
                    vals = np.frombuffer(seg, ">u2", 64, i).astype(np.int64)
                    i += 128
                else:
                    vals = np.frombuffer(seg, np.uint8, 64, i).astype(np.int64)
                    i += 64
                nat = np.zeros(64, np.int64)
                nat[ZIGZAG] = vals  # DQT stores zigzag order
                qt[tq] = nat
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. seq.
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit JPEG precision requires a real codec "
                    f"backend; native decodes 8-bit")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _HuffDecoder(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            restart = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_comps = []
            for c in range(ns):
                cs, tdta = struct.unpack_from(">BB", seg, 1 + 2 * c)
                scan_comps.append((cs, tdta >> 4, tdta & 0xF))
            # entropy-coded data follows the SOS segment
            dpos = pos + ln
            segments, cur = [], bytearray()
            while dpos < len(b) - 1:
                byte = b[dpos]
                if byte == 0xFF:
                    nxt = b[dpos + 1]
                    if nxt == 0x00:
                        cur.append(0xFF)
                        dpos += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # RSTn: segment boundary
                        segments.append(bytes(cur))
                        cur = bytearray()
                        dpos += 2
                        continue
                    break  # next real marker (EOI / next scan)
                cur.append(byte)
                dpos += 1
            segments.append(bytes(cur))
            scan = (scan_comps, segments)
            pos = dpos
            continue
        pos += ln

    if frame is None or scan is None:
        raise ValueError("corrupt JPEG: missing SOF/SOS")
    h, w, comps = frame
    scan_comps, segments = scan
    if len(scan_comps) != len(comps):
        raise NotImplementedError(
            "multi-scan sequential JPEG requires a real codec backend")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    interleaved = len(comps) > 1
    if interleaved:
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))
    else:
        mcus_x = -(-w // 8)
        mcus_y = -(-h // 8)
    planes, qtab = {}, {}
    for cid, ch, cv, ctq in comps:
        if not interleaved:
            ch = cv = 1
        planes[cid] = np.zeros((mcus_y * cv * 8, mcus_x * ch * 8),
                               np.float64)
        qtab[cid] = qt[ctq].reshape(8, 8).astype(np.float64)

    # per-component (dc huff, ac huff) from the scan's table selectors
    tables = {}
    for cs, td, ta in scan_comps:
        tables[cs] = (huff[(0, td)], huff[(1, ta)])

    dc_pred = {c[0]: 0 for c in comps}
    seg_iter = iter(segments)
    br = _BitReader(next(seg_iter))
    coeffs = np.zeros(64, np.float64)
    n_mcus = mcus_x * mcus_y
    for mcu in range(n_mcus):
        if restart and mcu and mcu % restart == 0:
            br = _BitReader(next(seg_iter))
            dc_pred = {c[0]: 0 for c in comps}
        my, mx = divmod(mcu, mcus_x)
        for cid, ch, cv, ctq in comps:
            if not interleaved:
                ch = cv = 1
            dc_tab, ac_tab = tables[cid]
            for by in range(cv):
                for bx in range(ch):
                    coeffs[:] = 0.0
                    s = dc_tab.decode(br)
                    diff = _extend(br.receive(s), s) if s else 0
                    dc_pred[cid] += diff
                    coeffs[0] = dc_pred[cid]
                    k = 1
                    while k < 64:
                        rs = ac_tab.decode(br)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("corrupt JPEG: AC overrun")
                        coeffs[ZIGZAG[k]] = _extend(br.receive(s), s)
                        k += 1
                    blk = coeffs.reshape(8, 8) * qtab[cid]
                    px = _DCT_M.T @ blk @ _DCT_M + 128.0
                    r0 = (my * cv + by) * 8
                    c0 = (mx * ch + bx) * 8
                    planes[cid][r0 : r0 + 8, c0 : c0 + 8] = px

    return h, w, comps, planes, hmax, vmax, interleaved


# --------------------------------------------------------------- encoder

class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int):
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad(self):
        """Pad to a byte boundary with 1-bits (spec F.1.2.3)."""
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _scale_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 5000/q below 50, 200-2q above."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)


def _encode_block(bw, zz, pred, dc_codes, ac_codes) -> int:
    """Huffman-encode one quantized zigzag block; returns its DC."""
    dc = int(zz[0])
    diff = dc - pred
    s = int(abs(diff)).bit_length()
    code, ln = dc_codes[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = int(abs(v)).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return dc


def _pad_edge(px: np.ndarray, mult: int) -> np.ndarray:
    h, w = px.shape
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        px = np.pad(px, ((0, ph), (0, pw)), mode="edge")
    return px


def _quantized_blocks(plane: np.ndarray, q: np.ndarray):
    """float plane (multiple-of-8 dims) → dict[(by, bx)] of quantized
    zigzag int coefficient vectors."""
    h, w = plane.shape
    out = {}
    qf = q.reshape(8, 8).astype(np.float64)
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            f = _DCT_M @ blk @ _DCT_M.T
            # reshape(-1) is natural order; zigzag position k reads
            # natural index ZIGZAG[k]
            out[(by, bx)] = np.round(f / qf).astype(np.int64).reshape(-1)[ZIGZAG]
    return out


def _dht_segment(tc, th, bits, vals) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


def _dqt_segment(tq, nat_table) -> bytes:
    zz = nat_table[ZIGZAG]  # natural -> zigzag for the wire
    body = bytes([tq]) + bytes(int(v) for v in zz)
    return b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body


def jpeg_encode(px: np.ndarray, quality: int = 90, color: bool = False,
                chroma: tuple[np.ndarray, np.ndarray] | None = None,
                restart_interval: int = 0) -> bytes:
    """Grayscale (H, W) uint8 plane → baseline JPEG bytes.

    ``color=False``: single-component grayscale scan.
    ``color=True``: 4:2:0 YCbCr — Y from the plane, Cb/Cr flat 128
    (zero chroma) unless ``chroma=(cb, cr)`` full-res uint8 planes are
    given (box-averaged 2x2 to the subsampled raster); either way the
    decoded luma is bit-identical to the grayscale encode of the same
    plane, which the tests pin. ``restart_interval`` > 0 emits DRI +
    RSTn markers every that many MCUs."""
    px = np.asarray(px, dtype=np.float64)
    h, w = px.shape
    qlum = _scale_qt(QT_LUM, quality)
    dc_l = _build_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _build_codes(AC_LUM_BITS, AC_LUM_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _dqt_segment(0, qlum)
    if color:
        qchr = _scale_qt(QT_CHR, quality)
        out += _dqt_segment(1, qchr)
        sof_comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    else:
        sof_comps = [(1, 1, 1, 0)]
    sof = struct.pack(">BHHB", 8, h, w, len(sof_comps))
    for cid, ch, cv, tq in sof_comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht_segment(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_segment(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    if color:
        dc_c = _build_codes(DC_CHR_BITS, DC_CHR_VALS)
        ac_c = _build_codes(AC_CHR_BITS, AC_CHR_VALS)
        out += _dht_segment(0, 1, DC_CHR_BITS, DC_CHR_VALS)
        out += _dht_segment(1, 1, AC_CHR_BITS, AC_CHR_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(sof_comps)])
    for cid, _ch, _cv, tq in sof_comps:
        sos += bytes([cid, 0x00 if tq == 0 else 0x11])
    sos += bytes([0, 63, 0])  # ss/se/ahal (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    bw = _BitWriter()
    if not color:
        plane = _pad_edge(px, 8)
        blocks = _quantized_blocks(plane, qlum)
        n_bx = plane.shape[1] // 8
        n_by = plane.shape[0] // 8
        pred, rst, nmcu = 0, 0, 0
        for by in range(n_by):
            for bx in range(n_bx):
                if restart_interval and nmcu and nmcu % restart_interval == 0:
                    bw.pad()
                    out += bw.out
                    bw = _BitWriter()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    pred = 0
                pred = _encode_block(bw, blocks[(by, bx)], pred, dc_l, ac_l)
                nmcu += 1
    else:
        plane = _pad_edge(px, 16)
        ph, pw = plane.shape
        if chroma is None:
            cb = np.full((ph // 2, pw // 2), 128.0)
            cr = cb
        else:
            cb = _pad_edge(np.asarray(chroma[0], np.float64), 16)
            cr = _pad_edge(np.asarray(chroma[1], np.float64), 16)
            cb = cb[:ph, :pw].reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
            cr = cr[:ph, :pw].reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
        yb = _quantized_blocks(plane, qlum)
        cbb = _quantized_blocks(cb, qchr)
        crb = _quantized_blocks(cr, qchr)
        mcus_x, mcus_y = pw // 16, ph // 16
        preds = {1: 0, 2: 0, 3: 0}
        rst, nmcu = 0, 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and nmcu and nmcu % restart_interval == 0:
                    bw.pad()
                    out += bw.out
                    bw = _BitWriter()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    preds = {1: 0, 2: 0, 3: 0}
                for by in range(2):
                    for bx in range(2):
                        preds[1] = _encode_block(
                            bw, yb[(my * 2 + by, mx * 2 + bx)], preds[1],
                            dc_l, ac_l)
                preds[2] = _encode_block(bw, cbb[(my, mx)], preds[2],
                                         dc_c, ac_c)
                preds[3] = _encode_block(bw, crb[(my, mx)], preds[3],
                                         dc_c, ac_c)
                nmcu += 1
    bw.pad()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
