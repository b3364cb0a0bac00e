"""Change-map job over a ``segments`` table (SURVEY.md §3.2).

spark-submit analog of ``yatsm changemap first|last|num`` and
``yatsm map coef|predict`` (yatsm/cli/changemap.py, cli/map.py [U]) —
pure-DataFrame aggregates, no kernels.

Usage:
    spark-submit --py-files engine.zip jobs/changemap.py \
        --segments <path> --mode summary|magnitude|coef|predict \
        [--start 2024-01-01 --end 2025-01-01] [--at 2024-06-01] --output <path>
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from yatsm_spark.operators.changemap import (  # noqa: E402
    break_magnitude,
    change_summary,
    coef_at,
    predict_at,
)
from yatsm_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--segments", required=True)
    ap.add_argument("--mode", default="summary",
                    choices=["summary", "magnitude", "coef", "predict"])
    ap.add_argument("--start", default="1970-01-01")
    ap.add_argument("--end", default="2100-01-01")
    ap.add_argument("--at", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--tiff", default=None,
        help="ALSO write the result as a url-bucket x month raster TIFF "
        "(S6 map sink, own GDAL-free codec; --mode summary only); "
        "value = output path",
    )
    ap.add_argument("--tiff-buckets", type=int, default=256)
    args = ap.parse_args()
    if args.tiff and args.mode != "summary":
        ap.error(f"--tiff rasterizes the summary breaks; it needs "
                 f"--mode summary, not {args.mode}")

    spark = get_spark("yatsm_spark_changemap", master=args.master)
    segs = spark.read.parquet(args.segments)
    if args.mode == "summary":
        out = change_summary(segs, args.start, args.end)
    elif args.mode == "magnitude":
        out = break_magnitude(segs, args.start, args.end)
    elif args.mode == "coef":
        out = coef_at(segs, args.at or args.start)
    else:
        out = predict_at(segs, args.at or args.start)
    out.write.mode("overwrite").parquet(args.output)
    print(f"{args.mode}: {spark.read.parquet(args.output).count()} rows -> {args.output}")
    if args.tiff:
        from yatsm_spark.operators.changemap import write_map_tiff

        grid = (
            segs.filter(F.col("break_ts").between(F.lit(args.start), F.lit(args.end)))
            .withColumn("bucket", F.abs(F.xxhash64("url")) % args.tiff_buckets)
            .withColumn("month", F.date_trunc("month", "break_ts").cast("date"))
            .groupBy("bucket", "month")
            .agg(F.count("*").alias("n_breaks"))
        )
        meta = write_map_tiff(grid, args.tiff, x_col="month", y_col="bucket",
                              val_col="n_breaks", dtype="int32")
        print(f"map raster: {meta['height']}x{meta['width']} -> {meta['path']}")
    spark.stop()


if __name__ == "__main__":
    main()
