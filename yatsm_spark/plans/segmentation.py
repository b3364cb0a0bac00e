"""Distributed CCDC segmentation: per-url kernels over url runs.

The Spark-side analog of the reference's per-pixel loop in
yatsm/cli/line.py + algorithms/ccdc.py::CCDCesque.fit [U] — url runs of a
url-sorted partition fed to ``mapInPandas`` (plans/__init__.py::
map_key_runs), pure-numpy kernels inside (functions/ccdc.py), structured
``segments`` rows out (SURVEY.md §1.2 segments schema).

Scale notes:
  * At most one shuffle (hash on url; none over a url-bucketed, url-sorted
    table).  Group size is bounded by construction when the input is a
    rollup tier (a decade of 1d buckets is ~3.7k rows); groups beyond
    ``max_group_rows`` (raw hourly series of giant urls) are fit
    split-and-stitch (functions/ccdc.py::fit_series_chunked) — per-window
    work stays bounded and the result is EXACTLY the single-pass fit,
    because CCDC restarts memoryless at every confirmed break.
  * The kernels are O(n·k²) per group and embarrassingly parallel across
    urls — exactly the reference's parallelism model, minus its external
    process scheduler (Spark tasks replace GNU parallel).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.functions.ccdc import CCDCParams, fit_series_chunked
from yatsm_spark.plans import _run_bounds, map_key_runs

SEGMENTS_SCHEMA = (
    "url string, seg_id int, start_ts timestamp, end_ts timestamp, "
    "break_ts timestamp, n_obs int, coef array<double>, rmse double, "
    "magnitude double, status string"
)

_SECONDS_PER_DAY = 86400.0


def _days_to_ts(days: float):
    if days is None or (isinstance(days, float) and math.isnan(days)):
        return pd.NaT
    # round to whole microseconds: Arrow's safe ns->us cast rejects the
    # sub-us residue float arithmetic leaves behind
    return pd.Timestamp(round(days * _SECONDS_PER_DAY * 1e6), unit="us")


def segment_series(
    series: DataFrame,
    params: CCDCParams | None = None,
    ts_col: str = "bucket_ts",
    value_col: str = "mean_len",
    presorted: bool = False,
    max_group_rows: int = 50_000,
) -> DataFrame:
    """Run CCDC segmentation per url over a (url, ts, value) DataFrame.

    Typical input: ``rollup(clean, '1d')`` with gap rows excluded — the
    1d tier bounds group size and regularizes cadence, mirroring how the
    reference fits on per-date composites.  ``presorted`` declares the
    input url-contiguous and (url, ts)-sorted (a url-bucketed table from
    sources/storage.py::write_bucketed_tier): the kernel stage then runs
    with ZERO shuffle, scan -> mapInPandas.
    """
    params = params or CCDCParams()
    src = series
    if "gap_filled" in series.columns:
        src = src.filter(~F.col("gap_filled"))
    # Rollup tiers carry sum_ts (sum of obs epochs): fit at the TRUE mean
    # observation time per bucket, not the bucket label — an obs at 23:59
    # lands in this bucket but a day from its start, which would alias any
    # signal with period near the tier width.
    if ts_col == "bucket_ts" and {"sum_ts", "cnt"} <= set(src.columns):
        src = src.withColumn(
            "_obs_ts",
            F.timestamp_seconds((F.col("sum_ts") / F.col("cnt")).cast("double")),
        )
        ts_col = "_obs_ts"
    src = src.select("url", ts_col, value_col)
    batch_omission = params.omission_alpha > 0

    def fit_group(pdf: pd.DataFrame, collect: list | None):
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        t = pdf[ts_col].astype("int64").to_numpy() / 1e9 / _SECONDS_PER_DAY
        y = pdf[value_col].to_numpy(dtype=np.float64)
        ok = ~np.isnan(y)
        # giant groups (a decade of hourly obs) are fit split-and-stitch:
        # windows of max_group_rows, committing only break-confirmed
        # segments and re-fitting from the last break — EXACTLY equal to
        # the single-pass fit (see fit_series_chunked), no downsampling
        return fit_series_chunked(
            t[ok], y[ok], params, chunk_rows=max_group_rows, omission_collect=collect
        )

    def rows_for(url, segs) -> pd.DataFrame:
        rows = []
        for sid, s in enumerate(segs):
            rows.append(
                {
                    "url": url,
                    "seg_id": sid,
                    "start_ts": _days_to_ts(s.start_t),
                    "end_ts": _days_to_ts(s.end_t),
                    "break_ts": _days_to_ts(s.break_t),
                    "n_obs": s.n_obs,
                    "coef": [float(c) for c in s.coef],
                    "rmse": None if math.isnan(s.rmse) else float(s.rmse),
                    "magnitude": None if math.isnan(s.magnitude) else float(s.magnitude),
                    "status": s.status,
                }
            )
        out = pd.DataFrame(rows)
        if len(out):
            # pin dtypes so all-None/all-NaT columns (no-break groups)
            # concat cleanly with mixed groups — object-dtype NA columns
            # trip pandas' future concat dtype rules
            out = out.astype({"rmse": "float64", "magnitude": "float64"})
            for c in ("start_ts", "end_ts", "break_ts"):
                out[c] = pd.to_datetime(out[c])
        return out

    def segment_block(pdf: pd.DataFrame) -> pd.DataFrame | None:
        # fit every url in the block first, batching the K8 omission
        # tests across ALL urls' segments: one recresid_batch sweep
        # amortizes the sequential recursive-residual loop (the kernel
        # stack's hottest path — cusum was ~47% of fit wall at realistic
        # series lengths) over the whole block.  Bit-identical to
        # per-segment scoring (pinned by tests).
        collect: list | None = [] if batch_omission else None
        urls = pdf["url"].to_numpy()
        fitted = [
            (urls[s], fit_group(pdf.iloc[s:e], collect))
            for s, e in zip(*_run_bounds(urls))
        ]
        if collect:
            from yatsm_spark.functions.ccdc import cusum_omission_batch

            flags = cusum_omission_batch(
                [x for _, x, _ in collect],
                [yv for _, _, yv in collect],
                params.omission_alpha,
            )
            for (seg, _, _), hit in zip(collect, flags):
                if hit:
                    seg.status = seg.status + "+omission"
        frames = [rows_for(u, s) for u, s in fitted]
        frames = [f for f in frames if not f.empty]
        return pd.concat(frames, ignore_index=True) if frames else None

    return map_key_runs(
        src, "url", [ts_col], segment_block, SEGMENTS_SCHEMA, presorted
    )
