"""Change/coefficient/prediction map queries over the ``segments`` table.

Pure-DataFrame re-expressions of the reference's record post-query CLIs
(SURVEY.md §2.4 A5-A7, §3.2):
  * :func:`change_summary`   — yatsm/cli/changemap.py [U]: per url the
    first/last break and break count inside a date window
  * :func:`break_magnitude`  — changemap.py magnitude mode [U]
  * :func:`coef_at`          — yatsm/cli/map.py::get_coefficients [U]:
    the segment active at date D (as-of/range filter, J3)
  * :func:`predict_at`       — map.py::get_prediction [U]: X(D)·coef via
    ``zip_with`` + ``aggregate`` higher-order functions — stays inside
    whole-stage codegen, no UDF.

All are single-shuffle (or shuffle-free filter) plans over ``segments``,
which is tiny relative to the crawl (one row per stable period per url).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.functions.ccdc import PERIOD_DAYS


def change_summary(segments: DataFrame, d1: str, d2: str) -> DataFrame:
    """A5: per url over breaks in [d1, d2]: first break, last break, count."""
    return (
        segments.filter(F.col("break_ts").between(F.lit(d1), F.lit(d2)))
        .groupBy("url")
        .agg(
            F.min("break_ts").alias("first_break"),
            F.max("break_ts").alias("last_break"),
            F.count("*").alias("n_breaks"),
        )
    )


def break_magnitude(segments: DataFrame, d1: str, d2: str) -> DataFrame:
    """A6: magnitude of the FIRST break per url in the window — struct-min
    trick (min over (break_ts, magnitude) pairs) instead of a window sort."""
    return (
        segments.filter(F.col("break_ts").between(F.lit(d1), F.lit(d2)))
        .groupBy("url")
        .agg(F.min(F.struct("break_ts", "magnitude")).alias("_s"))
        .select("url", F.col("_s.break_ts").alias("first_break"), F.col("_s.magnitude").alias("magnitude"))
    )


def segment_at(segments: DataFrame, at: str) -> DataFrame:
    """J3: the segment covering date ``at`` per url (as-of/range predicate —
    partition-prunable, no join needed because segments are per-url disjoint)."""
    return segments.filter(
        (F.col("start_ts") <= F.lit(at)) & (F.lit(at) <= F.col("end_ts"))
    )


def coef_at(segments: DataFrame, at: str) -> DataFrame:
    """A7: coefficients of the active segment at date ``at``."""
    return segment_at(segments, at).select("url", "seg_id", "coef", "rmse", "status")


def predict_at(segments: DataFrame, at: str, period: float = PERIOD_DAYS) -> DataFrame:
    """A7: ŷ(at) = X(at)·coef, computed with zip_with/aggregate so the dot
    product is codegen'd JVM-side (no Python).  Design must match
    functions.ccdc.harmonic_design: [1, t, cos(2πkt/P), sin(2πkt/P), ...]."""
    active = segment_at(segments, at)
    t = F.unix_timestamp(F.lit(at).cast("timestamp")) / 86400.0

    def _design_terms(n_coef: int):
        terms = [F.lit(1.0), t]
        k = 1
        while len(terms) < n_coef:
            w = 2.0 * math.pi * k / period
            terms.append(F.cos(F.lit(w) * t))
            terms.append(F.sin(F.lit(w) * t))
            k += 1
        return F.array(*terms)

    # coef length is fixed per params (2 + 2*order); read it from the data's
    # first row is an action — instead support order 0..3 via when-chain.
    preds = None
    for order in range(0, 4):
        n_coef = 2 + 2 * order
        x = _design_terms(n_coef)
        dot = F.aggregate(
            F.zip_with(F.col("coef"), x, lambda c, xx: c * xx),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cond = F.size("coef") == n_coef
        preds = dot if preds is None else F.when(cond, dot).otherwise(preds)
    return active.select("url", "seg_id", preds.alias("prediction"))


def rasterize(
    df: DataFrame,
    x_col: str,
    y_col: str,
    val_col: str,
    fill: float = 0.0,
    max_pixels: int = 64_000_000,
):
    """S6 map sink, step 1: pivot a GRID-SHAPED query result (one row
    per (y, x) cell) into a dense numpy matrix plus its sorted axis
    labels.  The reference rasterizes per-pixel records into image
    bands the same way (`yatsm/cli/map.py` [U], via GDAL there).

    A map is by definition raster-sized, so the driver-side collect is
    BOUNDED by ``max_pixels`` (asserted on the distinct axis counts
    BEFORE any cell is collected — never on raw row count).  This is
    the one deliberate collect in the query surface: a raster is an
    output artifact, exactly like the reference writing a GeoTIFF per
    job; everything upstream of the pivot is ordinary distributed
    DataFrame work.
    """
    import numpy as np

    # one pass over the input: every count and collect below reads this
    # slim projection, not the upstream plan
    slim = df.select(y_col, x_col, val_col).persist()
    try:
        # COUNT the axes before collecting them: the cap must bound every
        # driver-side materialization, including the axis label lists
        nx = slim.select(x_col).distinct().count()
        ny = slim.select(y_col).distinct().count()
        if nx * ny > max_pixels:
            raise ValueError(
                f"rasterize: {ny}x{nx} grid exceeds max_pixels="
                f"{max_pixels}; aggregate to a coarser grid first"
            )
        xs = [r[0] for r in slim.select(x_col).distinct().orderBy(x_col).collect()]
        ys = [r[0] for r in slim.select(y_col).distinct().orderBy(y_col).collect()]
        xi = {v: i for i, v in enumerate(xs)}
        yi = {v: i for i, v in enumerate(ys)}
        grid = np.full((len(ys), len(xs)), float(fill), dtype=np.float64)
        for r in slim.collect():
            if r[2] is not None:
                grid[yi[r[0]], xi[r[1]]] = float(r[2])
    finally:
        slim.unpersist()
    return grid, ys, xs


def write_map_tiff(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    val_col: str,
    dtype: str = "float64",
    fill: float = 0.0,
    pixel_scale=None,
    tiepoint=None,
    epsg=None,
) -> dict:
    """S6 map sink: rasterize + write a single-band TIFF (own stdlib
    codec, functions/tiffcodec.py — GDAL-free).  GeoTIFF georeferencing
    tags are OPTIONAL pass-through: the crawl data model has no spatial
    payload, so none are invented; a deployment whose grid axes have a
    spatial meaning supplies pixel_scale/tiepoint/epsg and gets a
    spec-valid GeoTIFF.  Returns {path, width, height} lineage."""
    import numpy as np

    from yatsm_spark.functions.tiffcodec import encode_tiff

    grid, ys, xs = rasterize(df, x_col, y_col, val_col, fill=fill)
    grid = grid.astype(np.dtype(dtype))
    data = encode_tiff(grid, pixel_scale=pixel_scale, tiepoint=tiepoint, epsg=epsg)
    with open(path, "wb") as fh:
        fh.write(data)
    return {"path": path, "width": len(xs), "height": len(ys),
            "bytes": len(data)}
