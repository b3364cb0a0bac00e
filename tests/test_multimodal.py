"""Multimodal binary-column operators — plumbing-real, decode-stubbed."""

from __future__ import annotations

import hashlib

import pytest

from yatsm_spark.operators.multimodal import (
    decode_image,
    frame_sample,
    media_dedup_keys,
    media_metadata,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\n" + b"x" * 100),
        (1, b"\xff\xd8\xff\xe0" + b"y" * 50),
        (2, b"<html><body>hi</body></html>"),
        (3, b"\x89PNG\r\n\x1a\n" + b"x" * 100),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, blob binary")


def test_media_metadata_sniffing(media):
    out = {r["doc_id"]: (r["media_kind"], r["media_bytes"]) for r in
           media_metadata(media, "blob").collect()}
    assert out[0] == ("png", 108)
    assert out[1] == ("jpeg", 54)
    assert out[2][0] == "html"


def test_decode_image_stub_requires_fake(media):
    with pytest.raises(Exception, match="NotImplementedError|imaging"):
        decode_image(media, "blob", fake=False).collect()


def test_decode_image_fake_deterministic(media):
    a = sorted(map(tuple, decode_image(media, "blob", fake=True).collect()))
    b = sorted(map(tuple, decode_image(media.repartition(3), "blob", fake=True).collect()))
    assert a == b  # partition-invariant
    by_id = {t[0]: t for t in a}
    # dup content -> identical fake metadata
    assert by_id[0][1:] == by_id[3][1:]
    # matches the hash-derived formula
    h = hashlib.md5(b"\x89PNG\r\n\x1a\n" + b"x" * 100).digest()
    assert by_id[0][1] == 64 + h[0] * 4


def test_frame_sample_shape(media):
    out = frame_sample(media, k=3, bin_col="blob", fake=True).collect()
    assert len(out) == 4 * 3
    for r in out:
        assert 0 <= r["frame_idx"] < 3 and r["offset_ms"] >= 0


def test_media_dedup(media):
    groups = {r["fp"]: (r["keeper_id"], r["n_docs"]) for r in
              media_dedup_keys(media, "blob").collect()}
    assert sorted(v for v in groups.values()) == [(0, 2), (1, 1), (2, 1)]


def test_bmp_decode_is_real(spark):
    """BMP needs no imaging library: the decoder must parse the actual
    header and pixels — dimensions exact, channels 3, mean luma equal to
    the numpy ground truth of the generated pattern (no fake flag)."""
    import numpy as np

    from yatsm_spark.operators.multimodal import decode_image, make_bmp, media_metadata

    w0, h0, seed = 37, 21, 9  # odd width exercises row padding
    data = make_bmp(w0, h0, seed)
    # ground truth straight from the pattern definition
    yy, xx = np.mgrid[0:h0, 0:w0]
    b = (xx * 7 + seed) % 256
    g = (yy * 13 + seed * 3) % 256
    r = (xx + yy + seed * 5) % 256
    luma = round(float((0.114 * b + 0.587 * g + 0.299 * r).mean()) / 255.0, 6)

    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, html binary")
    row = decode_image(df, fake=False).first()  # fake NOT needed for BMP
    assert (row["width"], row["height"], row["n_channels"]) == (w0, h0, 3)
    assert abs(row["mean_luma"] - luma) < 1e-9
    assert media_metadata(df).first()["media_kind"] == "bmp"


def test_bmp_truncated_falls_back(spark):
    """A truncated/corrupt BMP is not silently half-decoded: it falls
    through to the stub policy (raise without fake, fake values with)."""
    import pytest

    from yatsm_spark.operators.multimodal import decode_image, make_bmp

    bad = make_bmp(16, 16, 1)[:40]
    df = spark.createDataFrame([(1, bytearray(bad))], "doc_id long, html binary")
    with pytest.raises(Exception, match="NotImplementedError|imaging"):
        decode_image(df, fake=False).collect()
    assert decode_image(df, fake=True).first()["width"] >= 64


def test_bmp_8bit_palette_mapped_luma(spark):
    """8-bit BMP pixels are palette indices: luma must come from the
    color table, not from the raw index values."""
    import struct

    import numpy as np

    from yatsm_spark.operators.multimodal import decode_image

    w, h = 6, 4
    stride = ((w + 3) // 4) * 4
    # palette: index i -> BGR (inverted grayscale), so index-mean != luma
    pal = b"".join(struct.pack("<BBBB", 255 - i, 255 - i, 255 - i, 0) for i in range(256))
    idx = (np.arange(h * stride, dtype=np.uint8).reshape(h, stride) % 16)
    px = idx[::-1].tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pal) + len(px), 0, 0,
                         14 + 40 + len(pal))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(px), 2835, 2835, 256, 0)
    data = header + info + pal + px

    truth_idx = idx[:, :w]
    truth_luma = round(float((255.0 - truth_idx).mean()) / 255.0, 6)
    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, html binary")
    row = decode_image(df, fake=False).first()
    assert (row["width"], row["height"], row["n_channels"]) == (w, h, 1)
    assert abs(row["mean_luma"] - truth_luma) < 1e-9
    # index-mean would be ~7.5/255 ≈ 0.03 — assert we did NOT do that
    assert row["mean_luma"] > 0.9


def test_png_gray_alpha_luma(spark):
    """A valid 8-bit gray+alpha PNG (color type 4) decodes to 2 channels
    with luma = the gray plane; the alpha plane is ignored."""
    import struct
    import zlib

    import numpy as np

    from yatsm_spark.operators.multimodal import _png_luma_grid, decode_image

    w, h = 4, 3
    gray = (np.arange(h * w, dtype=np.uint8).reshape(h, w) * 20)
    alpha = np.full((h, w), 255 - 7, dtype=np.uint8)
    px = np.stack([gray, alpha], axis=-1).reshape(h, 2 * w)
    raw = b"".join(b"\x00" + row.tobytes() for row in px)  # filter 0 per row

    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    ch, grid = _png_luma_grid(data)
    assert ch == 2
    assert np.array_equal(grid, gray.astype(np.float64))

    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, html binary")
    row = decode_image(df, fake=False).first()
    assert (row["width"], row["height"], row["n_channels"]) == (w, h, 2)
    assert abs(row["mean_luma"] - round(float(gray.mean()) / 255.0, 6)) < 1e-9


def test_resize_bmp_real_nearest_neighbor(spark):
    """Resize must sample the REAL pixel grid: thumb bytes equal the
    test's own integer nearest-neighbor resample of the pattern's luma
    ground truth, and ahash64 equals the test's own 8x8 mean-threshold
    pack (bit 63 signed, simhash64 convention)."""
    import numpy as np

    from yatsm_spark.operators.multimodal import make_bmp, resize_image

    w0, h0, seed = 37, 21, 9
    data = make_bmp(w0, h0, seed)
    yy, xx = np.mgrid[0:h0, 0:w0]
    luma = (
        0.114 * ((xx * 7 + seed) % 256)
        + 0.587 * ((yy * 13 + seed * 3) % 256)
        + 0.299 * ((xx + yy + seed * 5) % 256)
    )

    def nn(dst_h, dst_w):
        rr = (np.arange(dst_h) * h0) // dst_h
        cc = (np.arange(dst_w) * w0) // dst_w
        return luma[rr][:, cc]

    want_thumb = nn(6, 5).astype(np.uint8).tobytes()
    t8 = nn(8, 8)
    bits = (t8 > t8.mean()).flatten()
    want_hash = 0
    for b in bits:
        want_hash = (want_hash << 1) | int(b)
    if want_hash >= 1 << 63:
        want_hash -= 1 << 64

    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, html binary")
    row = resize_image(df, out_w=5, out_h=6, fake=False).first()
    assert (row["thumb_w"], row["thumb_h"]) == (5, 6)
    assert bytes(row["thumb"]) == want_thumb
    assert row["ahash64"] == want_hash


def test_resize_ahash_scale_invariant(spark):
    """The perceptual point: a 2x nearest-neighbor upscale of the same
    picture (different bytes, different md5) collides on ahash64, while
    a different picture does not."""
    import numpy as np
    import struct

    from yatsm_spark.operators.multimodal import make_bmp, resize_image

    def upscale2x(data: bytes) -> bytes:
        from yatsm_spark.operators.multimodal import _bmp_luma_grid

        # rebuild a 24-bit gray BMP from the doubled luma grid
        _, grid = _bmp_luma_grid(data)
        g = np.repeat(np.repeat(grid.astype(np.uint8), 2, 0), 2, 1)
        h, w = g.shape
        stride = ((w * 3 + 3) // 4) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        for c in range(3):
            rows[:, c : w * 3 : 3] = g
        px = rows[::-1].tobytes()
        header = struct.pack(
            "<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 14 + 40
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
        )
        return header + px

    a = make_bmp(64, 48, seed=1)
    # gray re-encode of a (same luma values exactly) then upscaled 2x
    a_gray = upscale2x(a)
    # a STRUCTURALLY different picture (multiplicative-hash texture) —
    # note make_bmp with another seed is NOT different enough: the seed
    # only brightness-shifts the same gradient, and aHash is
    # brightness-invariant by construction (that's its point)
    import numpy as np
    import struct as _s

    g = ((np.arange(48 * 64).reshape(48, 64) * 2654435761) % 256).astype(
        np.uint8
    )
    stride = ((64 * 3 + 3) // 4) * 4
    rows = np.zeros((48, stride), np.uint8)
    for c in range(3):
        rows[:, c : 64 * 3 : 3] = g
    px = rows[::-1].tobytes()
    b = (
        _s.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 54)
        + _s.pack("<IiiHHIIiiII", 40, 64, 48, 1, 24, 0, len(px), 2835, 2835, 0, 0)
        + px
    )
    df = spark.createDataFrame(
        [(0, bytearray(a)), (1, bytearray(a_gray)), (2, bytearray(b))],
        "doc_id long, html binary",
    )
    out = {r["doc_id"]: r["ahash64"] for r in resize_image(df).collect()}

    def ham(x, y):
        return bin((x & (2**64 - 1)) ^ (y & (2**64 - 1))).count("1")

    # the gray re-encode truncates luma to uint8, so pixels sitting within
    # one luma unit of the mean can flip — a FEW bits of slack is the
    # perceptual-hash contract (match = small Hamming ball, not equality)
    assert ham(out[0], out[1]) <= 4
    assert ham(out[0], out[2]) >= 16


def test_resize_stub_policy(media):
    """Non-BMP bytes follow the module stub policy: loud raise without
    fake, deterministic output with it."""
    from yatsm_spark.operators.multimodal import resize_image

    with pytest.raises(Exception):
        resize_image(media, bin_col="blob", fake=False).collect()
    one = resize_image(media, bin_col="blob", fake=True).collect()
    two = resize_image(media, bin_col="blob", fake=True).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, two))


# ---------------------------------------------------------- header dims


def test_webp_dims_all_layouts(spark):
    """WebP dims from header bytes for every container layout (VP8 lossy
    14-bit, VP8L packed, VP8X 24-bit canvas), plus kind refinement from
    the RIFF container and a non-webp RIFF staying dimension-less."""
    from yatsm_spark.operators.multimodal import (
        make_webp_header,
        media_dimensions,
        media_metadata,
    )

    rows = [
        (1, bytearray(make_webp_header(320, 240, "vp8"))),
        (2, bytearray(make_webp_header(100, 80, "vp8l"))),
        (3, bytearray(make_webp_header(16383, 16383, "vp8"))),  # 14-bit max
        (4, bytearray(make_webp_header(4000, 3000, "vp8x"))),
        (5, bytearray(b"RIFF\x10\x00\x00\x00WAVEfmt ")),  # wav: riff, no dims
        (6, bytearray(make_webp_header(8, 8, "vp8")[:20])),  # truncated
    ]
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    out = {
        r["doc_id"]: (r["media_kind"], r["img_w"], r["img_h"])
        for r in media_dimensions(media_metadata(df, "html"), "html").collect()
    }
    assert out[1] == ("webp", 320, 240)
    assert out[2] == ("webp", 100, 80)
    assert out[3] == ("webp", 16383, 16383)
    assert out[4] == ("webp", 4000, 3000)
    assert out[5] == ("riff", None, None)
    assert out[6] == ("webp", None, None)


def test_jpeg_dims_pure_python():
    """Unit-level walk: SOF behind APP segments, fill bytes, truncation."""
    from yatsm_spark.operators.multimodal import _jpeg_dims, make_jpeg_header

    assert _jpeg_dims(make_jpeg_header(640, 480)) == (640, 480)
    # SOF first, no APP segments
    assert _jpeg_dims(make_jpeg_header(1, 1, n_app_segments=0)) == (1, 1)
    # many large APP segments before SOF
    assert _jpeg_dims(
        make_jpeg_header(8000, 6000, n_app_segments=5, app_len=60000)
    ) == (8000, 6000)
    # fill bytes (0xFF padding) before the SOF marker
    b = make_jpeg_header(33, 44, n_app_segments=0)
    padded = b[:2] + b"\xff\xff\xff" + b[2:]
    assert _jpeg_dims(padded) == (33, 44)
    # progressive SOF2 marker
    sof2 = bytearray(make_jpeg_header(10, 20, n_app_segments=1))
    sof2[sof2.rindex(0xC0)] = 0xC2
    assert _jpeg_dims(bytes(sof2)) == (10, 20)
    # truncated mid-SOF / not a jpeg / EOI before SOF -> (None, None)
    assert _jpeg_dims(make_jpeg_header(640, 480)[:8]) == (None, None)
    assert _jpeg_dims(b"\x89PNG\r\n\x1a\n") == (None, None)
    assert _jpeg_dims(b"\xff\xd8\xff\xd9") == (None, None)
    assert _jpeg_dims(None) == (None, None)


def test_media_dimensions_headers(spark):
    """Ground-truth header dims for all four formats through the full
    Spark path (JVM exprs for png/gif/bmp, Arrow UDF for jpeg)."""
    from yatsm_spark.operators.multimodal import (
        make_bmp,
        make_gif_header,
        make_jpeg_header,
        make_png_header,
        media_dimensions,
    )

    rows = [
        (0, bytearray(make_png_header(800, 600))),
        (1, bytearray(make_gif_header(320, 200))),
        (2, bytearray(make_bmp(47, 31, seed=3))),
        (3, bytearray(make_jpeg_header(1920, 1080, n_app_segments=3))),
        (4, bytearray(b"<html><body>not an image</body></html>")),
        (5, bytearray(make_png_header(1, 1)[:12])),  # truncated png
        (6, bytearray(make_jpeg_header(0, 0))),  # corrupt zero dims
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {
        r["doc_id"]: (r["img_w"], r["img_h"])
        for r in media_dimensions(
            media_metadata(df, "blob"), "blob"
        ).collect()
    }
    assert out[0] == (800, 600)
    assert out[1] == (320, 200)
    assert out[2] == (47, 31)
    assert out[3] == (1920, 1080)
    assert out[4] == (None, None)
    assert out[5] == (None, None)
    assert out[6] == (None, None)


def test_media_dimensions_bmp_topdown(spark):
    """Negative BMP height (top-down storage) reports |h|."""
    import struct

    from yatsm_spark.operators.multimodal import (
        make_bmp,
        media_dimensions,
        media_metadata,
    )

    b = bytearray(make_bmp(16, 12, seed=1))
    b[22:26] = struct.pack("<i", -12)
    df = spark.createDataFrame([(0, b)], "doc_id long, blob binary")
    r = media_dimensions(media_metadata(df, "blob"), "blob").collect()[0]
    assert (r["img_w"], r["img_h"]) == (16, 12)


def test_media_dimensions_single_udf_eval(spark):
    """img_w and img_h come from ONE ArrowEvalPython pass (the two
    GetStructField reads of the same pandas_udf call are deduped by
    ExtractPythonUDFs), and non-jpeg rows ship NULL into it."""
    from yatsm_spark.operators.multimodal import (
        make_jpeg_header,
        media_dimensions,
        media_metadata,
    )

    df = spark.createDataFrame(
        [(0, bytearray(make_jpeg_header(64, 48)))], "doc_id long, blob binary"
    )
    plan = (
        media_dimensions(media_metadata(df, "blob"), "blob")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1
