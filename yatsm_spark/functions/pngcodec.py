"""PNG decode (and a test-fixture encoder) in pure numpy + stdlib zlib.

Companion to :mod:`jpegcodec` — PNG's only compression is DEFLATE, which
the Python stdlib already ships, so "no imaging library" never actually
blocked PNG: chunk parse + IDAT inflate + per-scanline unfilter is all
there is (RFC 2083 / W3C PNG spec).  Supported: 8-bit depth, color
types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
non-interlaced.  Adam7 interlace and 16-bit depth raise ValueError —
loudly, never a silent wrong decode (the same stub policy as the rest
of the multimodal surface).

The decoder is exercised against the encoder twin (filter-0 rows +
zlib), against hand-unfilterable fixtures for each filter type (sub/up/
average/paeth), and against the header-dims parser for consistency
(tests/test_jpeg.py).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from yatsm_spark.functions import decode_guard

_SIG = b"\x89PNG\r\n\x1a\n"
# samples per pixel by color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


@decode_guard
def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG to (h, w, channels) uint8 (channels per color type;
    palette rows are expanded to RGB).  Raises ValueError on unsupported
    or corrupt streams."""
    if len(data) < 8 or data[:8] != _SIG:
        raise ValueError("png: bad signature")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        length, ctype = struct.unpack_from(">I4s", data, pos)
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) < length:
            raise ValueError("png: truncated chunk")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if depth != 8:
                raise ValueError(f"png: bit depth {depth} unsupported (8 only)")
            if color not in _CHANNELS:
                raise ValueError(f"png: color type {color} invalid")
            if comp != 0 or filt != 0:
                raise ValueError("png: nonstandard compression/filter method")
            if interlace != 0:
                raise ValueError("png: Adam7 interlace unsupported")
            ihdr = (w, h, color)
        elif ctype == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if ihdr is None:
        raise ValueError("png: missing IHDR")
    w, h, color = ihdr
    if w == 0 or h == 0:
        raise ValueError("png: zero dimension")
    ch = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("png: decompressed size mismatch")
    raw = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    filters = raw[:, 0]
    lines = raw[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.int64)
    bpp = ch  # bytes per pixel (8-bit depth)
    for y in range(h):
        f = filters[y]
        cur = lines[y].copy()
        prior = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        if f == 0:  # None
            out[y] = cur
        elif f == 1:  # Sub — sequential in x, vectorize per byte lane
            for x in range(stride):
                cur[x] = (cur[x] + (cur[x - bpp] if x >= bpp else 0)) & 0xFF
            out[y] = cur
        elif f == 2:  # Up
            out[y] = (cur + prior) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + (left + prior[x]) // 2) & 0xFF
            out[y] = cur
        elif f == 4:  # Paeth
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"png: filter type {f} invalid")
    px = out.astype(np.uint8).reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        idx = px[..., 0]
        if int(idx.max()) >= plte.shape[0]:
            raise ValueError("png: palette index out of range")
        return plte[idx]
    return px if ch > 1 else px.reshape(h, w)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode (h, w) gray / (h, w, 3) RGB / (h, w, 4) RGBA uint8 as a
    non-interlaced 8-bit PNG, filter 0 on every scanline (the spec-
    minimal encoder — a fixture twin, not a compression contender)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        color, ch = 0, 1
        px = img[..., None]
    elif img.ndim == 3 and img.shape[2] == 3:
        color, ch = 2, 3
        px = img
    elif img.ndim == 3 and img.shape[2] == 4:
        color, ch = 6, 4
        px = img
    else:
        raise ValueError("encode_png: need (h,w), (h,w,3) or (h,w,4) uint8")
    h, w = px.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    rows = np.zeros((h, 1 + w * ch), dtype=np.uint8)
    rows[:, 1:] = px.reshape(h, w * ch)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(rows.tobytes(), 9))
        + _chunk(b"IEND", b"")
    )
