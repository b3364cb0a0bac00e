"""Multimodal binary-column operators (task brief: first-class components).

Images/audio/video ride as opaque ``binary`` columns with typed metadata,
processed via Arrow-batched ``mapInPandas`` — the same physical pattern as
the text kernels, so partitioning/batching behavior is identical at 100 TB.

Decode support is tiered by what the environment allows:
  * **BMP decode is REAL** — uncompressed 8/24/32-bit BMP needs only
    header parsing + a numpy view (8-bit: palette-mapped luma), so
    ``_decode_bmp`` genuinely parses dimensions/channels and computes the
    Rec.601 mean luma; ``make_bmp`` synthesizes deterministic test images.
  * **Baseline JPEG decode is REAL (round 5)** — own T.81 baseline
    sequential decoder in pure numpy (functions/jpegcodec.py: Huffman,
    dequant, IDCT, 4:2:0 upsample, JFIF YCbCr); ``make_jpeg`` is the
    encoder twin for deterministic fixtures.  Progressive/arithmetic
    streams still fall through to the stub policy, loudly.
  * **PNG decode is REAL (round 5)** — 8-bit gray/RGB/palette/alpha,
    stdlib-zlib inflate + per-scanline unfilter (functions/pngcodec.py);
    ``make_png`` is the fixture twin.  Adam7/16-bit fall through.
  * **GIF decode is REAL (round 5)** — own LZW + de-interlace, first
    frame (functions/gifcodec.py); ``make_gif`` is the literal-LZW
    fixture twin.
  * Remaining formats (webp/video/audio codecs) are STUBBED (no
    imaging/av library in this environment): ``decode_image`` raises
    ``NotImplementedError`` unless ``fake=True``, in which case a
    deterministic hash-derived fake exercises the full Spark path —
    schema, shuffle, mapInPandas batch shape — with real data movement.
    On a real deployment only ``_decode_image_bytes``'s fallback
    changes; every plan stays the same.

Operators:
  * :func:`media_metadata`    — magic-byte sniffing + sizes (pure exprs)
  * :func:`decode_image`      — binary -> (width, height, n_channels,
                                mean_luma) via mapInPandas [STUB]
  * :func:`frame_sample`      — video binary -> k deterministic frame
                                offsets (plumbing for a real demuxer) [STUB]
  * :func:`resize_image`      — binary -> nearest-neighbor luma thumbnail
                                + aHash perceptual near-dup key (REAL for
                                BMP; stub policy otherwise)
  * :func:`media_dedup_keys`  — exact dedup key (md5 of bytes) — real
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "doc_id long, width int, height int, n_channels int, mean_luma double"
)
FRAME_SCHEMA = "doc_id long, frame_idx int, offset_ms long"

# magic-byte prefixes -> media kind (pure column expressions, JVM-side)
_MAGIC = [
    ("89504e47", "png"),
    ("ffd8ff", "jpeg"),
    ("474946", "gif"),
    ("424d", "bmp"),
    ("52494646", "riff"),  # wav/avi/webp container
    ("3c68746d6c", "html"),
]


def media_metadata(df: DataFrame, bin_col: str = "html") -> DataFrame:
    """Magic-byte kind sniffing + byte size — codegen'd expressions only
    (hex prefix compare on the first bytes; no Python)."""
    prefix = F.lower(F.hex(F.substring(F.col(bin_col), 1, 8)))
    kind = F.lit("unknown")
    for magic, name in reversed(_MAGIC):
        kind = F.when(prefix.startswith(magic), name).otherwise(kind)
    # RIFF is a container: bytes 8-11 name the payload ("WEBP", "WAVE",
    # "AVI ") — the 4-byte size field in between varies, so the prefix
    # table can't see it; refine webp here (still pure codegen)
    kind = F.when(
        (kind == "riff")
        & (F.lower(F.hex(F.substring(F.col(bin_col), 9, 4))) == "57454250"),
        "webp",
    ).otherwise(kind)
    return df.withColumn("media_kind", kind).withColumn(
        "media_bytes", F.length(F.col(bin_col)).cast("long")
    )


def _bmp_luma_grid(data: bytes):
    """REAL decode of uncompressed 8/24/32-bit BMP to an (h, w) float64
    Rec.601 luma grid in [0, 255] — header parse + numpy pixel view, no
    imaging library required.  8-bit pixels are palette INDICES: the
    color table (BGRA quads after the info header) is parsed and indices
    map through it, so luma is true luma for arbitrary palettes, not an
    identity-grayscale assumption.  Returns (n_channels, grid), or None
    when the bytes are not a decodable BMP (caller falls through to the
    stub policy)."""
    import struct

    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        return None
    px_off = struct.unpack_from("<I", data, 10)[0]
    hdr_sz = struct.unpack_from("<I", data, 14)[0]
    if hdr_sz < 40:
        return None
    w = struct.unpack_from("<i", data, 18)[0]
    raw_h = struct.unpack_from("<i", data, 22)[0]
    h = abs(raw_h)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if comp != 0 or bpp not in (8, 24, 32) or w <= 0 or h <= 0:
        return None
    ch = bpp // 8
    stride = ((w * ch + 3) // 4) * 4
    if len(data) < px_off + stride * h:
        return None
    arr = np.frombuffer(data, np.uint8, stride * h, px_off).reshape(h, stride)
    if raw_h > 0:  # positive height = bottom-up storage; flip to top-down
        arr = arr[::-1]
    px = arr[:, : w * ch]
    if ch == 1:
        n_colors = struct.unpack_from("<I", data, 46)[0] or 256
        pal_off = 14 + hdr_sz
        if len(data) < pal_off + 4 * n_colors:
            return None
        pal = np.frombuffer(data, np.uint8, 4 * n_colors, pal_off).reshape(-1, 4)
        # per-entry Rec.601 luma; indices map through it
        lum_table = 0.114 * pal[:, 0] + 0.587 * pal[:, 1] + 0.299 * pal[:, 2]
        idx = px.reshape(h, w)
        if int(idx.max()) >= n_colors:
            return None
        return ch, lum_table[idx]
    rgb = px.reshape(h, w, ch).astype(np.float64)  # BGR(A) byte order
    return ch, 0.114 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.299 * rgb[..., 2]


def _rgb_luma_grid(px):
    """(h, w[, ch]) uint8 array -> (n_channels, Rec.601 luma grid)."""
    import numpy as np

    if px.ndim == 2:
        return 1, px.astype(np.float64)
    ch = px.shape[2]
    rgb = px.astype(np.float64)
    return ch, 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]


def _jpeg_luma_grid(data: bytes):
    """REAL baseline-JPEG decode (own T.81 decoder, functions/
    jpegcodec.py) -> (n_channels, luma grid), or None when the bytes are
    not a decodable baseline JPEG (progressive/arithmetic/corrupt fall
    through to the caller's stub policy — never a silent wrong decode)."""
    if len(data) < 3 or data[:3] != b"\xff\xd8\xff":
        return None
    from yatsm_spark.functions.jpegcodec import decode_baseline_jpeg

    try:
        px = decode_baseline_jpeg(data)
    except ValueError:
        return None
    return _rgb_luma_grid(px)


def _png_luma_grid(data: bytes):
    """REAL PNG decode (stdlib-zlib inflate + unfilter, functions/
    pngcodec.py) -> (n_channels, luma grid), or None for non-decodable
    bytes (Adam7/16-bit/corrupt fall through to the stub policy)."""
    if len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    from yatsm_spark.functions.pngcodec import decode_png

    try:
        px = decode_png(data)
    except ValueError:
        return None
    # palette expands to RGB; alpha counts as a channel but luma ignores it
    if px.ndim == 3 and px.shape[2] == 2:  # gray+alpha: luma is the gray plane
        import numpy as np

        return 2, px[..., 0].astype(np.float64)
    return _rgb_luma_grid(px)


def _gif_luma_grid(data: bytes):
    """REAL GIF decode (own LZW, functions/gifcodec.py; first frame) ->
    (n_channels, luma grid), or None for non-decodable bytes."""
    if len(data) < 6 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    from yatsm_spark.functions.gifcodec import decode_gif

    try:
        px = decode_gif(data)
    except ValueError:
        return None
    return _rgb_luma_grid(px)


def _any_luma_grid(data: bytes):
    """Dispatch to the REAL decoders (BMP, baseline JPEG, PNG, GIF) in
    magic order; None when no real decoder applies."""
    return (
        _bmp_luma_grid(data)
        or _jpeg_luma_grid(data)
        or _png_luma_grid(data)
        or _gif_luma_grid(data)
    )


def _decode_bmp(data: bytes):
    """Metadata view of :func:`_any_luma_grid`: (w, h, n_channels,
    mean_luma in [0, 1]), or None for bytes no real decoder handles."""
    decoded = _any_luma_grid(data)
    if decoded is None:
        return None
    ch, grid = decoded
    h, w = grid.shape
    return w, h, ch, round(float(grid.mean()) / 255.0, 6)


def make_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic uncompressed 24-bit BMP for tests/synthetic corpora —
    pixel pattern derived from (x, y, seed) arithmetic, no RNG state."""
    import struct

    import numpy as np

    ch = 3
    stride = ((width * ch + 3) // 4) * 4
    yy, xx = np.mgrid[0:height, 0:width]
    b = ((xx * 7 + seed) % 256).astype(np.uint8)
    g = ((yy * 13 + seed * 3) % 256).astype(np.uint8)
    r = ((xx + yy + seed * 5) % 256).astype(np.uint8)
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, 0 : width * ch : 3] = b
    rows[:, 1 : width * ch : 3] = g
    rows[:, 2 : width * ch : 3] = r
    px = rows[::-1].tobytes()  # bottom-up row order, per the BMP default
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    return header + px


def _test_pattern(width: int, height: int, seed: int):
    """The deterministic (x, y, seed) RGB pattern shared by every
    ``make_*`` fixture maker (identical pixels across formats, so
    cross-format decode comparisons are meaningful)."""
    import numpy as np

    yy, xx = np.mgrid[0:height, 0:width]
    r = ((xx + yy + seed * 5) % 256).astype(np.uint8)
    g = ((yy * 13 + seed * 3) % 256).astype(np.uint8)
    b = ((xx * 7 + seed) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def make_jpeg(
    width: int,
    height: int,
    seed: int = 0,
    quality: int = 85,
    subsample: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
) -> bytes:
    """Deterministic baseline JPEG of the shared test pattern (own
    encoder, functions/jpegcodec.py)."""
    from yatsm_spark.functions.jpegcodec import encode_baseline_jpeg

    return encode_baseline_jpeg(
        _test_pattern(width, height, seed),
        quality=quality,
        subsample=subsample,
        restart_interval=restart_interval,
    )


def make_png(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic 8-bit RGB PNG of the shared test pattern (own
    encoder, functions/pngcodec.py)."""
    from yatsm_spark.functions.pngcodec import encode_png

    return encode_png(_test_pattern(width, height, seed))


def make_gif(width: int, height: int, seed: int = 0, interlace: bool = False) -> bytes:
    """Deterministic single-frame GIF (own literal-LZW encoder,
    functions/gifcodec.py).  GIF is palette-indexed, so the fixture is a
    seeded 256-color palette + (x, y, seed)-arithmetic index pattern —
    lossless by construction, unlike the RGB pattern the other makers
    share."""
    import numpy as np

    from yatsm_spark.functions.gifcodec import encode_gif

    yy, xx = np.mgrid[0:height, 0:width]
    idx = ((xx * 7 + yy * 13 + seed * 5) % 256).astype(np.uint8)
    i = np.arange(256)
    pal = np.stack(
        [(i * 31 + seed) % 256, (i * 57 + seed * 3) % 256, (i * 97 + seed * 7) % 256],
        axis=-1,
    ).astype(np.uint8)
    return encode_gif(idx, pal, interlace=interlace)


def _decode_image_bytes(data: bytes, fake: bool) -> tuple[int, int, int, float]:
    """Decode one image: REAL for uncompressed BMP, baseline JPEG,
    8-bit PNG, and GIF (own decoders, no imaging library); hash-derived
    stub for the remaining formats (webp/progressive jpeg/video/...) —
    only reachable with ``fake=True``, the stub is never silent."""
    real = _decode_bmp(data)
    if real is not None:
        return real
    if not fake:
        raise NotImplementedError(
            "image decode beyond BMP/baseline-JPEG/8-bit-PNG/GIF requires "
            "an imaging library (PIL/libvips) — not installed in this "
            "environment; pass fake=True for the deterministic stub"
        )
    h = hashlib.md5(data).digest()
    width = 64 + h[0] * 4
    height = 64 + h[1] * 4
    channels = 1 + (h[2] % 4)
    mean_luma = round(h[3] / 255.0, 6)
    return width, height, channels, mean_luma


def decode_image(
    df: DataFrame,
    bin_col: str = "html",
    id_col: str = "doc_id",
    fake: bool = False,
    batch_hint: int = 1024,
) -> DataFrame:
    """binary -> image metadata via Arrow-batched mapInPandas.

    The plan is production-shaped: narrow projection (id + binary only —
    never drag other columns through Python), mapInPandas so one worker
    call handles a whole Arrow batch of images, output schema fixed.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, data in zip(pdf[id_col], pdf[bin_col]):
                w, h, c, luma = _decode_image_bytes(bytes(data), fake)
                rows.append(
                    {"doc_id": did, "width": w, "height": h,
                     "n_channels": c, "mean_luma": luma}
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, bin_col).mapInPandas(run, schema=IMAGE_META_SCHEMA)


def frame_sample(
    df: DataFrame,
    k: int = 4,
    bin_col: str = "html",
    id_col: str = "doc_id",
    fake: bool = False,
) -> DataFrame:
    """video binary -> k deterministic frame sample offsets [STUB].

    A real demuxer reads container timestamps; the stub derives a fake
    duration from a content hash and samples k evenly-spaced offsets.
    Plumbing (explode shape, schema, determinism) is real.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, data in zip(pdf[id_col], pdf[bin_col]):
                if not fake:
                    raise NotImplementedError(
                        "video demux requires a media library — "
                        "not installed; pass fake=True for the stub"
                    )
                dur_ms = 1000 + int.from_bytes(
                    hashlib.md5(bytes(data)).digest()[:2], "big"
                ) * 10
                for i in range(k):
                    rows.append(
                        {"doc_id": did, "frame_idx": i,
                         "offset_ms": (dur_ms * i) // k}
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, bin_col).mapInPandas(run, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, thumb_w int, thumb_h int, thumb binary, ahash64 long"
)


def _resize_one(data: bytes, out_w: int, out_h: int, fake: bool):
    """One image -> (thumb bytes, ahash64).  REAL for uncompressed BMP:
    integer nearest-neighbor sampling (src_idx = (i*src)//dst — pure
    integer, engine/cluster-exact) of the Rec.601 luma grid, truncated to
    uint8.  The perceptual key is the classic average hash over the 8x8
    resample of the SAME grid: bit set iff pixel > mean, packed row-major
    MSB-first into a signed bigint (bit 63 carries weight -(2^63), the
    simhash64 convention)."""
    import numpy as np

    decoded = _any_luma_grid(data)
    if decoded is None:
        if not fake:
            raise NotImplementedError(
                "image resize beyond BMP/baseline-JPEG/8-bit-PNG/GIF "
                "requires an imaging library (PIL/libvips) — not installed "
                "in this environment; pass fake=True for the deterministic "
                "stub"
            )
        h = hashlib.md5(data).digest()
        seed = np.frombuffer(
            hashlib.md5(data + b"px").digest() * 4, np.uint8
        ).astype(np.float64)
        grid = np.resize(seed, (max(out_h, 8), max(out_w, 8)))
    else:
        grid = decoded[1]
    h_src, w_src = grid.shape

    def nn(dst_h: int, dst_w: int):
        rr = (np.arange(dst_h) * h_src) // dst_h
        cc = (np.arange(dst_w) * w_src) // dst_w
        return grid[rr][:, cc]

    thumb = nn(out_h, out_w).astype(np.uint8)  # truncation toward zero
    t8 = nn(8, 8)
    bits = (t8 > t8.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return thumb.tobytes(), v


def resize_image(
    df: DataFrame,
    out_w: int = 32,
    out_h: int = 32,
    bin_col: str = "html",
    id_col: str = "doc_id",
    fake: bool = False,
) -> DataFrame:
    """binary -> (thumb_w, thumb_h, thumb, ahash64) via Arrow-batched
    mapInPandas — the brief's image-resize stage plus the perceptual
    near-dup key it enables (aHash: re-encoded/re-struck copies of the
    same picture collide; grouping on ahash64 is image-side near-dup
    the way fp-grouping is text-side exact dedup).

    Same production plan shape as :func:`decode_image`: narrow
    projection, whole-Arrow-batch Python calls, fixed output schema.
    Real for uncompressed BMP (integer nearest-neighbor on the real luma
    grid); other formats follow the module's stub policy (loud
    NotImplementedError unless ``fake=True``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, data in zip(pdf[id_col], pdf[bin_col]):
                thumb, ah = _resize_one(bytes(data), out_w, out_h, fake)
                rows.append(
                    {"doc_id": did, "thumb_w": out_w, "thumb_h": out_h,
                     "thumb": thumb, "ahash64": ah}
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, bin_col).mapInPandas(run, schema=RESIZE_SCHEMA)


# --------------------------------------------------------- header dims
#
# Width/height extraction WITHOUT a codec: every common web-image format
# carries its pixel dimensions in a header whose bytes are reachable by
# pure offset arithmetic (png IHDR, gif logical screen descriptor, bmp
# info header) or by a bounded segment walk (jpeg SOF).  At 100 TB of
# crawl media this replaces a full decode pass with a few-byte read per
# row: png/gif/bmp stay entirely inside whole-stage codegen, and jpeg
# ships AT MOST the first _JPEG_SCAN_BYTES of each jpeg row through one
# Arrow-batched pandas UDF (non-jpeg rows ship a NULL, i.e. nothing).

# jpeg SOF can hide behind arbitrarily many APPn/COM segments (each
# <= 65 535 bytes); 256 KiB covers >1 full-size EXIF block plus slack.
# A deeper SOF returns NULL dims rather than a wrong read — the cap is
# a shipped-bytes bound, not a correctness risk.
_JPEG_SCAN_BYTES = 262144

# SOF0-SOF15 minus DHT(C4)/JPG(C8)/DAC(CC), per ITU T.81 table B.1
_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}


def _jpeg_dims(data) -> tuple:
    """Walk jpeg segments to the first SOF marker; return (width, height)
    or (None, None).  Pure byte arithmetic on the header prefix — no
    codec, no entropy decode."""
    if data is None:
        return None, None
    b = bytes(data)
    n = len(b)
    if n < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None, None
    i = 2
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None, None  # desynced — refuse to guess
        m = b[i + 1]
        if m == 0xFF:  # fill byte padding before a marker
            i += 1
            continue
        if m == 0x01 or 0xD0 <= m <= 0xD7:  # standalone markers
            i += 2
            continue
        if m in (0xD9, 0xDA):  # EOI / start-of-scan before any SOF
            return None, None
        seg_len = (b[i + 2] << 8) | b[i + 3]
        if seg_len < 2:
            return None, None
        if m in _SOF_MARKERS:
            if i + 9 > n:
                return None, None  # SOF truncated by the scan cap
            height = (b[i + 5] << 8) | b[i + 6]
            width = (b[i + 7] << 8) | b[i + 8]
            return width, height
        i += 2 + seg_len
    return None, None


def _u8(col: F.Column, pos: int) -> F.Column:
    """One byte at 1-based ``pos`` as a bigint — hex+conv keeps it a pure
    codegen expression (no Python touches the bytes)."""
    return F.conv(F.hex(F.substring(col, pos, 1)), 16, 10).cast("bigint")


def _be_u32(col: F.Column, pos: int) -> F.Column:
    return F.conv(F.hex(F.substring(col, pos, 4)), 16, 10).cast("bigint")


def _le_u16(col: F.Column, pos: int) -> F.Column:
    return _u8(col, pos) + _u8(col, pos + 1) * 256


def _le_i32(col: F.Column, pos: int) -> F.Column:
    v = (
        _u8(col, pos)
        + _u8(col, pos + 1) * 256
        + _u8(col, pos + 2) * 65536
        + _u8(col, pos + 3) * 16777216
    )
    return F.when(v >= 2147483648, v - 4294967296).otherwise(v)


def media_dimensions(
    df: DataFrame, bin_col: str = "html", kind_col: str = "media_kind"
) -> DataFrame:
    """Add real ``img_w``/``img_h`` (int, NULL for non-image or
    unparseable rows) from header bytes alone.

    Scale shape: png (IHDR at fixed offset 17/21, big-endian), gif
    (logical screen descriptor at 7/9, little-endian) and bmp (info
    header at 19/23, signed little-endian — negative height means
    top-down storage, dims use |h|) are single-expression byte reads
    inside whole-stage codegen; ONLY jpeg rows pay a Python transit, and
    only their first ``_JPEG_SCAN_BYTES`` header bytes cross the Arrow
    boundary (the ``when(kind=='jpeg', ...)`` projection sends NULL for
    everything else, so a mostly-text crawl ships ~nothing).

    Requires ``kind_col`` from :func:`media_metadata` (or call that
    first); parity with the reference's metadata extraction is by
    format spec (PNG 1.2 §11.2.2, GIF89a §18, BMPINFOHEADER, ITU T.81
    B.2.2), tested against synthesized ground-truth headers.
    """
    import pandas as pd  # noqa: F811 — resolved on the executor

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<w:int,h:int>")
    def jpeg_dims_udf(prefix: pd.Series) -> pd.DataFrame:
        dims = [_jpeg_dims(p) for p in prefix]
        return pd.DataFrame({"w": [d[0] for d in dims],
                             "h": [d[1] for d in dims]})

    col = F.col(bin_col)
    kind = F.col(kind_col)
    nbytes = F.length(col)

    png_ok = (kind == "png") & (nbytes >= 24)
    gif_ok = (kind == "gif") & (nbytes >= 10)
    bmp_ok = (kind == "bmp") & (nbytes >= 26)

    # webp (RFC 9649): three in-container layouts, all fixed-offset —
    # "VP8 " lossy (14-bit dims at 26/28 behind the 9D012A start code),
    # "VP8L" lossless (1+14-bit packed dims after the 0x2F signature),
    # "VP8X" extended (24-bit LE canvas minus-one at 24/27).  1-based.
    fourcc = F.lower(F.hex(F.substring(col, 13, 4)))
    vp8_ok = (
        (kind == "webp") & (fourcc == "56503820") & (nbytes >= 30)
        & (_u8(col, 24) == 0x9D) & (_u8(col, 25) == 0x01) & (_u8(col, 26) == 0x2A)
    )
    vp8l_ok = (
        (kind == "webp") & (fourcc == "5650384c") & (nbytes >= 25)
        & (_u8(col, 21) == 0x2F)
    )
    vp8x_ok = (kind == "webp") & (fourcc == "56503858") & (nbytes >= 30)
    # VP8L packs w-1 (14 bits) then h-1 (14 bits) LSB-first from byte 22
    l0, l1, l2, l3 = (_u8(col, 22 + i) for i in range(4))
    vp8l_w = l0 + (l1 % 64) * 256 + 1
    vp8l_h = F.floor(l1 / 64) + l2 * 4 + (l3 % 16) * 1024 + 1
    le_u24 = lambda p: _u8(col, p) + _u8(col, p + 1) * 256 + _u8(col, p + 2) * 65536  # noqa: E731

    jpeg_prefix = F.when(
        kind == "jpeg", F.substring(col, 1, _JPEG_SCAN_BYTES)
    ).otherwise(F.lit(None).cast("binary"))
    jd = jpeg_dims_udf(jpeg_prefix)

    width = (
        F.when(png_ok, _be_u32(col, 17))
        .when(gif_ok, _le_u16(col, 7))
        .when(bmp_ok, _le_i32(col, 19))
        .when(vp8_ok, _le_u16(col, 27) % 16384)
        .when(vp8l_ok, vp8l_w)
        .when(vp8x_ok, le_u24(25) + 1)
        .when(kind == "jpeg", jd["w"].cast("bigint"))
    )
    height = (
        F.when(png_ok, _be_u32(col, 21))
        .when(gif_ok, _le_u16(col, 9))
        .when(bmp_ok, F.abs(_le_i32(col, 23)))
        .when(vp8_ok, _le_u16(col, 29) % 16384)
        .when(vp8l_ok, vp8l_h)
        .when(vp8x_ok, le_u24(28) + 1)
        .when(kind == "jpeg", jd["h"].cast("bigint"))
    )
    # 0 or negative header dims = corrupt → NULL, not garbage
    width = F.when(width > 0, width).cast("int")
    height = F.when(height > 0, height).cast("int")
    return df.withColumn("img_w", width).withColumn("img_h", height)


def make_png_header(width: int, height: int) -> bytes:
    """Header-valid PNG bytes (signature + IHDR) with the given pixel
    dimensions — deterministic ground truth for the header parser.  The
    pixel data is absent on purpose: dims extraction must not need it."""
    import struct
    import zlib

    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def make_gif_header(width: int, height: int) -> bytes:
    """Header-valid GIF89a bytes (signature + logical screen descriptor)."""
    import struct

    return b"GIF89a" + struct.pack("<HHBBB", width, height, 0x70, 0, 0)


def make_jpeg_header(
    width: int, height: int, n_app_segments: int = 2, app_len: int = 64
) -> bytes:
    """Header-valid JPEG bytes: SOI, ``n_app_segments`` APP1 filler
    segments (exercising the variable-offset walk), then SOF0 carrying
    the dimensions.  No entropy data — the parser must stop at SOF."""
    import struct

    out = b"\xff\xd8"
    for i in range(n_app_segments):
        payload = bytes((i * 7 + j) % 256 for j in range(app_len))
        out += b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    sof_payload = struct.pack(">BHHB", 8, height, width, 3)
    out += b"\xff\xc0" + struct.pack(">H", len(sof_payload) + 2) + sof_payload
    return out


def make_webp_header(width: int, height: int, layout: str = "vp8") -> bytes:
    """Header-valid WebP bytes in any of the three container layouts
    (RFC 9649): 'vp8' lossy (14-bit dims behind the 9D012A start code),
    'vp8l' lossless (0x2F signature + LSB-packed minus-one dims),
    'vp8x' extended (24-bit LE canvas minus-one).  Payload absent —
    dims extraction must not need it."""
    import struct

    if layout == "vp8":
        body = b"VP8 " + struct.pack("<I", 10) + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        body += struct.pack("<HH", width, height)
    elif layout == "vp8l":
        bits = (width - 1) | ((height - 1) << 14)
        body = b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    elif layout == "vp8x":
        w1, h1 = width - 1, height - 1
        body = (
            b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
            + bytes([w1 & 0xFF, (w1 >> 8) & 0xFF, (w1 >> 16) & 0xFF])
            + bytes([h1 & 0xFF, (h1 >> 8) & 0xFF, (h1 >> 16) & 0xFF])
        )
    else:
        raise ValueError("layout must be vp8 / vp8l / vp8x")
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def media_dedup_keys(df: DataFrame, bin_col: str = "html",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact binary dedup groups: md5 over the raw bytes (JVM-side md5,
    no Python) -> (fp, keeper_id, n_docs).  Identical algebra to
    operators/dedup.py::exact_dedup but over binary content."""
    return (
        df.select(F.col(id_col), F.md5(F.col(bin_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_docs"))
    )
