"""Baseline JPEG codec in pure numpy/stdlib — no PIL/libjpeg/libvips.

Previous rounds stubbed compressed-image decode behind a loud
``NotImplementedError`` because this environment has no imaging library.
This module removes the dependency instead of the capability, the same
route as the scipy-free F CDF (functions/ccdc.py) and the R-free
smoothing spline (functions/pheno.py): a from-scratch implementation of
baseline sequential DCT JPEG (ITU-T T.81 / ISO 10918-1) —

  decode: segment parse (SOI/APPn/COM/DQT/SOF0/DHT/DRI/SOS), canonical
  Huffman decode of the entropy-coded stream (0xFF00 byte unstuffing,
  RSTn restart handling), DC prediction, AC run-length/EOB/ZRL,
  dequantize + de-zigzag, orthonormal 8x8 inverse DCT, per-component
  plane assembly with H/V sampling factors, replication chroma
  upsampling, JFIF YCbCr -> RGB.  Baseline only: SOF0, 8-bit, Huffman
  (progressive SOF2 and arithmetic coding raise ValueError — loudly,
  never a silent wrong decode).

  encode (test-fixture twin): JFIF RGB -> YCbCr, optional 4:2:0 box
  downsampling, forward DCT, Annex-K quantization tables scaled by the
  libjpeg quality formula, Annex-K "typical" Huffman tables (carried in
  the file's own DHT segments, as the spec requires — round-trip
  correctness never depends on table choice), optional restart
  intervals.

The decoder is validated three independent ways in tests/test_jpeg.py:
(1) BITSTREAM EXACTNESS — decode(encode(img)) equals the
reference pipeline applied directly to the encoder's quantized
coefficients (no bitstream), proving Huffman/stuffing/restart handling
is lossless; (2) ANALYTIC blocks — solid-color images decode to the
closed-form dequantized DC value; (3) the DCT pair is checked against a
brute-force O(n^4) DCT-II double loop written independently in the test.

Scale posture: this is a CORRECTNESS-FIRST per-image kernel (Python
bit-loop, ~100 KB/s class) intended for the Arrow-batched mapInPandas
decode path where each image is touched once; the Spark-side plumbing
(narrow projection, batch shape, schema) is identical to what a
libjpeg-turbo-backed UDF would use on a real cluster — swap
``decode_baseline_jpeg`` for the fast library and nothing else changes.

Reference parity: the upstream package reads imagery through GDAL
(`yatsm/io/readers.py` [U]); this engine's crawl payloads are opaque
``binary`` columns, so the analog surface is decode/resize/hash over
those bytes (SURVEY.md §2 multimodal row).
"""

from __future__ import annotations

import struct

import numpy as np

from yatsm_spark.functions import decode_guard

# --------------------------------------------------------------- tables

# ITU-T T.81 Annex K.1/K.2 example quantization tables (luma, chroma),
# natural (row-major) order.
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)
QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

# Annex K.3 "typical" Huffman tables: (bits[1..16], values).  These ride
# inside the emitted DHT segments, so round-trip correctness is
# independent of the exact choice; they are the interop-standard set.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Flat 8x8 indices in JPEG zigzag order, generated (not hardcoded)
    by the diagonal walk so a typo cannot corrupt the table."""
    idx, r, c = [], 0, 0
    for _ in range(64):
        idx.append(r * 8 + c)
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return np.array(idx, dtype=np.int64)


ZIGZAG = _zigzag_order()  # natural index of the k-th zigzag coefficient

# Orthonormal DCT-II matrix: T[k, n] = a_k cos((2n+1) k pi / 16);
# FDCT block = T @ (x - 128) @ T.T, IDCT = T.T @ F @ T + 128 (exact pair).
_N = np.arange(8)
DCT_T = np.cos((2 * _N[None, :] + 1) * _N[:, None] * np.pi / 16) * np.sqrt(2 / 8)
DCT_T[0] = np.sqrt(1 / 8)


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex-K tables scaled by the libjpeg quality formula (public,
    jcparam.c): scale = 5000/Q below 50 else 200 - 2Q; entries clamped
    to [1, 255] (baseline 8-bit)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    def s(tbl):
        return np.clip((tbl * scale + 50) // 100, 1, 255).astype(np.int32)
    return s(QUANT_LUMA), s(QUANT_CHROMA)


# ------------------------------------------------------------- huffman


def _canonical_codes(bits: list[int], vals: list[int]):
    """Canonical code assignment (T.81 C.2): returns
    (decode map {(length, code): symbol}, encode map {symbol: (code, length)})."""
    if sum(bits) != len(vals):
        raise ValueError("huffman table: counts do not match symbols")
    dec, enc, code, k = {}, {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("huffman table: code overflow")
            sym = vals[k]
            dec[(length, code)] = sym
            enc[sym] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return dec, enc


class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
        if self.n:
            self.write(0xFF, 8 - self.n)


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment; unstuffs
    0xFF00 and stops AT (does not consume past) any other marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("jpeg: entropy data exhausted at marker")
        if self.pos >= len(self.data):
            raise ValueError("jpeg: truncated entropy-coded data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1
            else:
                self.marker = nxt  # leave marker unconsumed for the caller
                self.pos -= 1
                raise ValueError("jpeg: hit marker inside entropy data")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self, expected: int) -> None:
        """Consume padding bits + the RSTn marker at a restart boundary."""
        self.acc = 0
        self.n = 0
        self.marker = None
        while self.pos + 1 < len(self.data) and self.data[self.pos] == 0xFF:
            m = self.data[self.pos + 1]
            if m == 0x00:
                break
            if 0xD0 <= m <= 0xD7:
                if m != 0xD0 + expected:
                    raise ValueError("jpeg: out-of-order restart marker")
                self.pos += 2
                return
            raise ValueError(f"jpeg: unexpected marker 0x{m:02x} at restart")
        raise ValueError("jpeg: missing restart marker")

    def decode_symbol(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t raw bits to a signed coefficient."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _bit_size(v: int) -> int:
    return int(abs(v)).bit_length()


# --------------------------------------------------------------- encode


def _encode_block(
    bw: _BitWriter, coefs_zz: np.ndarray, pred: int, dc_enc: dict, ac_enc: dict
) -> int:
    """Huffman-encode one zigzag-ordered quantized block; returns new DC
    predictor."""
    dc = int(coefs_zz[0])
    diff = dc - pred
    s = _bit_size(diff)
    code, length = dc_enc[s]
    bw.write(code, length)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(coefs_zz)[0])) if np.any(coefs_zz[1:]) else 0
    for k in range(1, 64):
        v = int(coefs_zz[k])
        if v == 0:
            if k > last_nz:
                code, length = ac_enc[0x00]  # EOB
                bw.write(code, length)
                break
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = _bit_size(v)
        code, length = ac_enc[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    return dc


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601 (float64 in, float64 out, NOT rounded)."""
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.stack([r, g, b], axis=-1)


def _pad_to(img: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = img.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    return np.pad(img, ((0, ph), (0, pw)), mode="edge")


def quantize_plane(plane: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8x8 block of a padded plane; returns an
    (n_blocks_y, n_blocks_x, 64) int32 array in ZIGZAG order.  Exposed
    (not private) so the test suite can replay the encoder's exact
    coefficient pipeline without a bitstream."""
    h, w = plane.shape
    by, bx = h // 8, w // 8
    blocks = plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) - 128.0
    f = np.einsum("kn,yxnm,lm->yxkl", DCT_T, blocks, DCT_T)
    q = np.round(f / qtbl).astype(np.int32)
    return q.reshape(by, bx, 64)[..., ZIGZAG]


def encode_baseline_jpeg(
    rgb: np.ndarray,
    quality: int = 85,
    subsample: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array (or (h, w) grayscale) as a
    baseline JFIF JPEG.  ``subsample`` = (1, 1) for 4:4:4 or (2, 2) for
    4:2:0 (box-average chroma downsampling)."""
    rgb = np.asarray(rgb)
    gray = rgb.ndim == 2
    h, w = rgb.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ql, qc = quality_tables(quality)
    sh, sv = subsample
    if (sh, sv) not in ((1, 1), (2, 2)):
        raise ValueError("subsample must be (1,1) or (2,2)")

    if gray:
        planes = [rgb.astype(np.float64)]
        samps, qids, qtbls = [(1, 1)], [0], [ql]
    else:
        ycc = rgb_to_ycbcr(rgb.astype(np.float64))
        ypad = _pad_to(ycc[..., 0], 8 * sv, 8 * sh)
        if (sh, sv) == (1, 1):
            planes = [ypad, _pad_to(ycc[..., 1], 8, 8), _pad_to(ycc[..., 2], 8, 8)]
        else:
            def down(p):
                p = _pad_to(p, 2, 2)
                p = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4
                return _pad_to(p, 8, 8)
            planes = [ypad, down(ycc[..., 1]), down(ycc[..., 2])]
        samps = [(sh, sv), (1, 1), (1, 1)]
        qids, qtbls = [0, 1, 1], [ql, qc, qc]

    coef = [quantize_plane(_pad_to(p, 8, 8), q) for p, q in zip(planes, qtbls)]

    dc_l_dec, dc_l_enc = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l_dec, ac_l_enc = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c_dec, dc_c_enc = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c_dec, ac_c_enc = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    del dc_l_dec, ac_l_dec, dc_c_dec, ac_c_dec

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid: int, tbl: np.ndarray) -> bytes:
        return (b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid])
                + bytes(int(x) for x in tbl.reshape(64)[ZIGZAG]))

    out += dqt(0, ql)
    if not gray:
        out += dqt(1, qc)

    ncomp = 1 if gray else 3
    sof = struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(ncomp):
        hs, vs = samps[cid]
        sof += bytes([cid + 1, (hs << 4) | vs, qids[cid]])
    out += b"\xff\xc0" + sof

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        return (b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
                + bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    sos = struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(ncomp):
        sos += bytes([cid + 1, 0x00 if cid == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + sos

    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    preds = [0] * ncomp
    bw = _BitWriter()
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * ncomp
            for cid in range(ncomp):
                hs, vs = samps[cid]
                denc = dc_l_enc if cid == 0 else dc_c_enc
                aenc = ac_l_enc if cid == 0 else ac_c_enc
                for v in range(vs):
                    for u in range(hs):
                        blk = coef[cid][my * vs + v, mx * hs + u]
                        preds[cid] = _encode_block(bw, blk, preds[cid], denc, aenc)
            mcu_count += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------- decode


def dequantize_to_plane(
    coef_zz: np.ndarray, qtbl_zz: np.ndarray
) -> np.ndarray:
    """Inverse of :func:`quantize_plane` minus the rounding: zigzag
    (by, bx, 64) int coefficients + zigzag qtable -> pixel plane (8*by,
    8*bx) float64 (IDCT + 128, NOT clipped).  Shared by the decoder and
    the test suite's no-bitstream reference pipeline."""
    by, bx, _ = coef_zz.shape
    nat = np.zeros((by, bx, 64), dtype=np.float64)
    nat[..., ZIGZAG] = coef_zz * qtbl_zz
    blocks = nat.reshape(by, bx, 8, 8)
    px = np.einsum("nk,yxkl,ml->yxnm", DCT_T.T, blocks, DCT_T.T) + 128.0
    return px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)


@decode_guard
def decode_baseline_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (h, w, 3) uint8 RGB, or (h, w) uint8
    for single-component (grayscale) scans.  Raises ValueError on
    progressive/arithmetic/12-bit streams and on corrupt data."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        seglen = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT — possibly several tables
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0x0F
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                qtables[tq] = np.frombuffer(seg, np.uint8, 64, o + 1).astype(np.int64)
                o += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0x0F
                bits = list(seg[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(seg[o + 17 : o + 17 + nv])
                htables[(tc, th)], _ = _canonical_codes(bits, vals)
                o += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            prec, fh, fw, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"jpeg: SOF 0x{marker:02x} (progressive/arith/lossless) unsupported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tt >> 4, tt & 0x0F))
            return _decode_scan(
                data, pos + seglen, frame, scan, qtables, htables, restart_interval
            )
        # APPn / COM / others: skipped
        pos += seglen
    raise ValueError("jpeg: no SOS marker found")


def _decode_scan(data, pos, frame, scan, qtables, htables, restart_interval):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    interleaved = len(scan) > 1
    if interleaved:
        mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    else:
        comp = scan[0][0]
        cw, ch_ = -(-w * comp["h"] // hmax), -(-h * comp["v"] // vmax)
        mcus_x, mcus_y = -(-cw // 8), -(-ch_ // 8)
    coef = {}
    for comp, _, _ in scan:
        bx = mcus_x * (comp["h"] if interleaved else 1)
        by = mcus_y * (comp["v"] if interleaved else 1)
        coef[comp["id"]] = np.zeros((by, bx, 64), dtype=np.int64)

    br = _BitReader(data, pos)
    preds = {comp["id"]: 0 for comp, _, _ in scan}
    mcu_count, rst = 0, 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.align_restart(rst)
                rst = (rst + 1) % 8
                preds = {k: 0 for k in preds}
            for comp, td, ta in scan:
                dc_tab, ac_tab = htables[(0, td)], htables[(1, ta)]
                reps = comp["h"] * comp["v"] if interleaved else 1
                for r in range(reps):
                    v, u = divmod(r, comp["h"])
                    blk = np.zeros(64, dtype=np.int64)
                    s = br.decode_symbol(dc_tab)
                    diff = _extend(br.bits(s), s) if s else 0
                    preds[comp["id"]] += diff
                    blk[0] = preds[comp["id"]]
                    k = 1
                    while k < 64:
                        sym = br.decode_symbol(ac_tab)
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += sym >> 4
                        size = sym & 0x0F
                        if k > 63:
                            raise ValueError("jpeg: AC index overflow")
                        blk[k] = _extend(br.bits(size), size)
                        k += 1
                    if interleaved:
                        coef[comp["id"]][my * comp["v"] + v, mx * comp["h"] + u] = blk
                    else:
                        coef[comp["id"]][my, mx] = blk
            mcu_count += 1

    planes = {}
    for comp, _, _ in scan:
        qz = qtables[comp["tq"]]  # DQT payload is already in zigzag order
        plane = dequantize_to_plane(coef[comp["id"]], qz)
        # replicate-upsample to full resolution, crop to frame
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes[comp["id"]] = plane[:h, :w]

    if len(scan) == 1:
        return np.clip(np.round(planes[scan[0][0]["id"]]), 0, 255).astype(np.uint8)
    ycc = np.stack([planes[c["id"]] for c, _, _ in scan], axis=-1)
    rgb = ycbcr_to_rgb(ycc)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
