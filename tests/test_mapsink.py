"""S6 map sink: own TIFF codec round-trips + the rasterize/write path
over a real changemap query (functions/tiffcodec.py,
operators/changemap.py::rasterize/write_map_tiff)."""

from __future__ import annotations

import numpy as np
import pytest

from yatsm_spark.functions.tiffcodec import decode_tiff, encode_tiff
from yatsm_spark.operators.changemap import rasterize, write_map_tiff


@pytest.mark.parametrize("dtype", [np.uint8, np.int32, np.float64])
def test_tiff_roundtrip_dtypes(dtype):
    rng = np.random.default_rng(1)
    g = rng.uniform(0, 200, (17, 23)).astype(dtype)
    back, tags = decode_tiff(encode_tiff(g))
    assert np.array_equal(back, g)
    assert back.dtype == g.dtype
    assert tags == {}


def test_tiff_geo_tags_roundtrip():
    g = np.arange(12, dtype=np.float64).reshape(3, 4)
    data = encode_tiff(
        g, pixel_scale=(30.0, 30.0), tiepoint=(0, 0, 500000.0, 4000000.0),
        epsg=32633,
    )
    back, tags = decode_tiff(data)
    assert np.array_equal(back, g)
    assert tags["pixel_scale"] == (30.0, 30.0)
    assert tags["tiepoint"] == (0.0, 0.0, 500000.0, 4000000.0)
    assert tags["epsg"] == 32633


def test_tiff_rejects_bad():
    with pytest.raises(ValueError, match="little-endian"):
        decode_tiff(b"MM\x00*garbage")
    with pytest.raises(ValueError, match="2-D"):
        encode_tiff(np.zeros(5))
    with pytest.raises(ValueError, match="dtype"):
        encode_tiff(np.zeros((2, 2), dtype=np.float32))


def test_rasterize_grid_and_fill(spark):
    rows = [("b", 1, 10.0), ("a", 2, 20.0), ("b", 2, 40.0)]  # (y, x, v)
    df = spark.createDataFrame(rows, "y string, x int, v double")
    grid, ys, xs = rasterize(df, "x", "y", "v", fill=-1.0)
    assert ys == ["a", "b"] and xs == [1, 2]
    assert grid.tolist() == [[-1.0, 20.0], [10.0, 40.0]]


def test_rasterize_pixel_cap(spark):
    df = spark.range(100).selectExpr("id as x", "id as y", "1.0 as v")
    with pytest.raises(ValueError, match="max_pixels"):
        rasterize(df, "x", "y", "v", max_pixels=99)


def test_rasterize_reads_input_once(spark):
    """The counts and collects share one materialization of the input: a
    Python UDF that makes the x column runs once per input row, not once
    per pass that reads x."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def make_x(i):
        calls.add(1)
        return i % 4

    df = spark.range(12).select(
        make_x("id").alias("x"), F.floor(F.col("id") / 4).alias("y"), F.lit(1.0).alias("v")
    )
    grid, ys, xs = rasterize(df, "x", "y", "v")
    assert (ys, xs) == ([0, 1, 2], [0, 1, 2, 3]) and grid.sum() == 12.0
    assert calls.value == 12


def test_write_map_tiff_from_changemap(spark, tmp_path):
    """End-to-end S6 analog: changemap-style aggregate -> url-bucket x
    month raster -> TIFF on disk -> read back equals the aggregate."""
    import pandas as pd

    from pyspark.sql import functions as F

    rows = []
    for u in range(40):
        for m in range(1, 7):
            rows.append((f"https://u{u:02d}.example/", m, float((u * m) % 5)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "month", "n_breaks"])
    )
    grid_df = df.withColumn("bucket", F.abs(F.xxhash64("url")) % 8).groupBy(
        "bucket", "month"
    ).agg(F.sum("n_breaks").alias("breaks"))
    out = str(tmp_path / "changemap.tif")
    meta = write_map_tiff(grid_df, out, x_col="month", y_col="bucket",
                          val_col="breaks")
    assert meta["width"] == 6 and meta["height"] == 8
    back, tags = decode_tiff(open(out, "rb").read())
    expect, _, _ = rasterize(grid_df, "month", "bucket", "breaks")
    assert np.array_equal(back, expect)
    assert tags == {}  # no invented georeferencing


def test_changemap_job_rejects_tiff_outside_summary(monkeypatch, tmp_path):
    """--tiff only has a raster to write in summary mode; any other mode
    must fail at argument parsing, before a session starts."""
    import importlib.util
    import sys
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "jobs" / "changemap.py"
    spec = importlib.util.spec_from_file_location("changemap_job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(job, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", [
        "changemap.py", "--segments", str(tmp_path / "segs"), "--output",
        str(tmp_path / "out"), "--mode", "magnitude", "--tiff", str(tmp_path / "m.tif"),
    ])
    with pytest.raises(SystemExit):
        job.main()
