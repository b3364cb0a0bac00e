"""Tier age-out archiver (spark-submit entry point).

Converts a rollup-tier parquet into its two lossless blob archives so the
tier parquet can be deleted without losing history:

  * numeric stats  -> plans/blobs.py::encode_tier_blobs  (one Gorilla
    stream per stat per url; cnt/sum algebra cascades exactly after decode)
  * lang_dist      -> plans/blobs.py::encode_lang_blobs  (one count stream
    per (url, lang) — the map column's history)

Both archives are asserted lossless in tests/test_codec.py (bit-exact stat
roundtrip; 30d lang_dist rebuilt from blobs equals the live cascade).
Retention tiering (BASELINE.json north_star): run this on buckets older
than the tier's retention horizon, verify, then drop those tier
partitions — the read path falls back to decode_tier_blobs/
decode_lang_blobs + gap_fill.

Usage:
    spark-submit --py-files engine.zip jobs/archive.py \
        --tier-dir <tier parquet> --tier 1h --output <archive dir> \
        [--older-than "2024-03-01"] [--no-lang] [--master local[8]]

Writes <output>/stat_blobs and <output>/lang_blobs.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from yatsm_spark.plans.blobs import encode_lang_blobs, encode_tier_blobs  # noqa: E402
from yatsm_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier-dir", required=True)
    ap.add_argument("--tier", required=True, help="tier label stored in the blobs (1h/1d/30d)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--older-than", default=None,
                    help="archive only buckets strictly before this timestamp "
                         "(partition-prunable predicate; default: whole tier)")
    ap.add_argument("--no-lang", action="store_true",
                    help="skip the lang_dist archive (tier has no lang_dist column)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("yatsm_spark_archive", master=args.master)
    tier = spark.read.parquet(args.tier_dir)
    if args.older_than:
        tier = tier.filter(F.col("bucket_ts") < F.lit(args.older_than).cast("timestamp"))

    t0 = time.time()
    # an empty selection (nothing older than --older-than) sums to NULL
    points = F.coalesce(F.sum("n_points"), F.lit(0)).alias("points")
    stat_obs = Observation("stat_blobs")
    encode_tier_blobs(tier, args.tier).observe(
        stat_obs, F.count(F.lit(1)).alias("rows"), points
    ).write.mode("overwrite").parquet(f"{args.output}/stat_blobs")
    msg = (
        f"stat_blobs: {int(stat_obs.get['rows'])} blob rows / "
        f"{int(stat_obs.get['points'])} points"
    )

    if not args.no_lang and "lang_dist" in tier.columns:
        lang_obs = Observation("lang_blobs")
        encode_lang_blobs(tier, args.tier).observe(
            lang_obs, F.count(F.lit(1)).alias("rows"), points
        ).write.mode("overwrite").parquet(f"{args.output}/lang_blobs")
        msg += (
            f"; lang_blobs: {int(lang_obs.get['rows'])} blob rows / "
            f"{int(lang_obs.get['points'])} points"
        )

    print(f"{msg} in {time.time() - t0:.1f}s -> {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
