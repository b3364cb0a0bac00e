"""GIF decode (and a test-fixture encoder) in pure Python/numpy.

Completes the own-codec family (jpegcodec.py, pngcodec.py): GIF's only
compression is LZW with GIF's little-endian bit packing and growing
code widths — ~80 lines of stdlib Python, no imaging library.

Decode: GIF87a/GIF89a header, logical screen descriptor, global/local
color tables, extension-block skipping, FIRST image descriptor only
(animation frames beyond the first are out of scope for a thumbnail/
metadata pipeline — documented, not silent: ``decode_gif`` returns the
first frame), LZW decompression with clear/EOI handling and the cScSc
special case, 4-pass de-interlacing, palette mapping to RGB.

Encode (fixture twin): single-frame GIF89a with a global palette and
"literal-LZW" compression — every pixel emitted as its own literal
code, with the encoder tracking the decoder's table growth so code
widths stay in lockstep and CLEAR is emitted before the table would
overflow (the classic uncompressed-GIF writer).  Spec-valid output any
GIF reader accepts; compression ratio is not the point.

Validated in tests/test_jpeg.py: pixel-exact round-trips (palette
images are lossless), interlaced round-trip, hand-built LZW streams,
truncation errors, header-dims parser agreement.
"""

from __future__ import annotations

import struct

import numpy as np

from yatsm_spark.functions import decode_guard


# --------------------------------------------------------------- decode


class _LZWReader:
    """GIF LZW bit stream: codes packed LSB-first across the
    concatenated data sub-blocks."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.byte_pos = 0
        self.bit_pos = 0

    def read(self, width: int) -> int:
        v = 0
        for i in range(width):
            if self.byte_pos >= len(self.data):
                raise ValueError("gif: truncated LZW stream")
            bit = (self.data[self.byte_pos] >> self.bit_pos) & 1
            v |= bit << i
            self.bit_pos += 1
            if self.bit_pos == 8:
                self.bit_pos = 0
                self.byte_pos += 1
        return v


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    reader = _LZWReader(data)
    out = bytearray()

    def reset():
        return (
            {i: bytes([i]) for i in range(clear)},
            eoi + 1,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = reader.read(width)
        if code == clear:
            table, next_code, width = reset()
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:  # the cScSc case
            entry = prev + prev[:1]
        else:
            raise ValueError("gif: invalid LZW code")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("gif: LZW stream ended early")
    return bytes(out[:n_pixels])


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    """Undo GIF 4-pass interlacing (rows 0/8.., 4/8.., 2/4.., 1/2..)."""
    h = idx.shape[0]
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    out = np.empty_like(idx)
    out[order] = idx
    return out


@decode_guard
def decode_gif(data: bytes) -> np.ndarray:
    """Decode the FIRST frame of a GIF to (h, w, 3) uint8 RGB.  Raises
    ValueError on corrupt/truncated streams or a frame without any
    color table."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(data):
                raise ValueError("gif: truncated image descriptor")
            _left, _top, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                if pos + 3 * n > len(data):
                    raise ValueError("gif: truncated local color table")
                pal = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("gif: no color table for frame")
            if w == 0 or h == 0:
                raise ValueError("gif: zero-dimension frame")
            if pos >= len(data):
                raise ValueError("gif: truncated before LZW data")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            raw = _lzw_decode(min_code, bytes(lzw), w * h)
            idx = np.frombuffer(raw, np.uint8).reshape(h, w)
            if iflags & 0x40:
                idx = _deinterlace(idx)
            if int(idx.max()) >= pal.shape[0]:
                raise ValueError("gif: palette index out of range")
            return pal[idx]
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
    raise ValueError("gif: no image descriptor")


# --------------------------------------------------------------- encode


class _LZWWriter:
    """LSB-first code packer emitting 255-byte data sub-blocks."""

    def __init__(self) -> None:
        self.bytes = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.n
        self.n += width
        while self.n >= 8:
            self.bytes.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def finish(self) -> bytes:
        if self.n:
            self.bytes.append(self.acc & 0xFF)
        out = bytearray()
        for i in range(0, len(self.bytes), 255):
            chunk = self.bytes[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
        return bytes(out)


def encode_gif(idx: np.ndarray, palette: np.ndarray, interlace: bool = False) -> bytes:
    """Single-frame GIF89a from (h, w) uint8 palette indices + (n, 3)
    uint8 palette (n a power of two, 2..256) — literal-LZW (module
    docstring), lossless by construction."""
    idx = np.asarray(idx, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    n = palette.shape[0]
    if n & (n - 1) or not 2 <= n <= 256:
        raise ValueError("palette size must be a power of two in [2, 256]")
    if int(idx.max()) >= n:
        raise ValueError("palette index out of range")
    depth = max((n - 1).bit_length(), 1)
    min_code = max(depth, 2)  # spec: LZW min code size >= 2
    clear = 1 << min_code
    eoi = clear + 1

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    if n < (1 << depth):  # pad table to 2^depth entries (always equal here)
        out += b"\x00" * 3 * ((1 << depth) - n)
    iflags = 0x40 if interlace else 0x00
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    out += bytes([min_code])

    rows = idx
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        rows = idx[order]
    pixels = rows.reshape(-1)

    wtr = _LZWWriter()
    width = min_code + 1
    wtr.write(clear, width)
    # literal codes only; mirror the decoder's table growth so widths
    # stay in lockstep, clearing before the table would overflow
    next_code = eoi + 1
    prev_sent = False
    for px in pixels:
        wtr.write(int(px), width)
        if prev_sent:  # decoder adds one entry per code after the first
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
            if next_code == 4095:
                wtr.write(clear, width)
                width = min_code + 1
                next_code = eoi + 1
                prev_sent = False
                continue
        prev_sent = True
    wtr.write(eoi, width)
    out += wtr.finish()
    out += b"\x3b"
    return bytes(out)
