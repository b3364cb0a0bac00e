"""segment_blobs: rolled-up points encoded to Gorilla/delta-of-delta blobs.

The north_star sink (BASELINE.json:6): per (url, tier), the bucket series
is encoded into ``ts_blob`` (delta-of-delta, microsecond epochs) +
``val_blob`` (Gorilla XOR of the measured value) via one url shuffle +
partition-batched ``mapInPandas`` (plans/__init__.py::map_key_runs) —
numpy kernels inside (functions/codec.py), binary columns out.
``decode_blobs`` is the inverse (exploded points) for verification and
point queries.

Scale notes:
  * Group size is bounded by construction (input is a rollup tier; a
    decade of 1h buckets is ~88k rows, held as one pandas block even when
    it spans Arrow batches).  For larger spans, split by year upstream.
  * Encoding is append-friendly: blobs are per (url, tier) and can be
    re-encoded per partition on backfill without touching neighbors.

Reference analog: replaces the reference's np.savez record sink
(yatsm/utils.py::get_output_name [U]) with a columnar TSDB codec.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.functions.codec import (
    CODEC_VERSION,
    decode_series,
    encode_dod,
    encode_gorilla,
    encode_series,
)
from yatsm_spark.plans import _run_bounds, map_key_runs

BLOBS_SCHEMA = (
    "url string, tier string, start_ts timestamp, end_ts timestamp, "
    "n_points int, ts_blob binary, val_blob binary, codec_ver int"
)

POINTS_SCHEMA = "url string, tier string, bucket_ts timestamp, value double"


def _real_points(tier_df: DataFrame) -> DataFrame:
    """Drop gap_fill's synthetic rows: the archives hold observed buckets."""
    if "gap_filled" in tier_df.columns:
        return tier_df.filter(~F.col("gap_filled"))
    return tier_df


def _sorted_runs(pdf: pd.DataFrame, ts_col: str, *keys: str):
    """Per key run of a block of complete runs: (start, end, the run's
    microsecond epochs in time order, that order as a permutation of the
    run's rows)."""
    ts_us = pdf[ts_col].astype("int64").to_numpy() // 1000  # ns -> us
    for s, e in zip(*_run_bounds(*(pdf[k].to_numpy() for k in keys))):
        order = np.argsort(ts_us[s:e], kind="stable")
        yield s, e, ts_us[s:e][order], order


def encode_blobs(
    tier_df: DataFrame,
    tier: str,
    ts_col: str = "bucket_ts",
    value_col: str = "mean_len",
    presorted: bool = False,
) -> DataFrame:
    """Encode each url's (ts, value) series into one blob row.

    Physical plan: :func:`yatsm_spark.plans.map_key_runs` keyed on url —
    url repartition + sort (or a presorted bucketed scan), then
    ``mapInPandas`` over whole partitions with many url runs per Arrow
    batch.  Measured ~2.5x faster than ``groupBy().applyInPandas`` at 20k
    groups of ~80 rows; identical output.
    """

    out_cols = [
        "url", "tier", "start_ts", "end_ts", "n_points",
        "ts_blob", "val_blob", "codec_ver",
    ]

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        urls = pdf["url"].to_numpy()
        v = pdf[value_col].to_numpy(dtype="float64")
        rows = []
        for s, e, t_g, order in _sorted_runs(pdf, ts_col, "url"):
            ts_blob, val_blob = encode_series(t_g, v[s:e][order])
            rows.append(
                (
                    urls[s],
                    tier,
                    pd.Timestamp(t_g[0] * 1000),
                    pd.Timestamp(t_g[-1] * 1000),
                    e - s,
                    ts_blob,
                    val_blob,
                    CODEC_VERSION,
                )
            )
        return pd.DataFrame(rows, columns=out_cols)

    proj = _real_points(tier_df).select(
        "url", ts_col, F.col(value_col).cast("double").alias(value_col)
    )
    return map_key_runs(proj, "url", [ts_col], encode, BLOBS_SCHEMA, presorted)


def decode_blobs(blobs: DataFrame) -> DataFrame:
    """Inverse of :func:`encode_blobs`: one row per encoded point.

    Blob rows decode independently, so this is ``mapInPandas`` over the
    scan — ZERO shuffle (the old ``groupBy(url).applyInPandas`` paid a hash
    exchange for grouping the decode never needed).  ``tier`` is carried
    through so a multi-tier blobs table decodes to distinguishable series
    (1h and 1d points for one url never collapse into one series).
    """

    def decode_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            urls: list = []
            tiers: list = []
            ts_parts: list = []
            val_parts: list = []
            for url, tier, tsb, vb in zip(
                pdf["url"], pdf["tier"], pdf["ts_blob"], pdf["val_blob"]
            ):
                ts_us, vals = decode_series(bytes(tsb), bytes(vb))
                urls.append(np.repeat(url, ts_us.size))
                tiers.append(np.repeat(tier, ts_us.size))
                ts_parts.append(ts_us)
                val_parts.append(vals)
            yield pd.DataFrame(
                {
                    "url": np.concatenate(urls),
                    "tier": np.concatenate(tiers),
                    "bucket_ts": pd.to_datetime(np.concatenate(ts_parts), unit="us"),
                    "value": np.concatenate(val_parts),
                }
            )

    return blobs.select("url", "tier", "ts_blob", "val_blob").mapInPandas(
        decode_batches, schema=POINTS_SCHEMA
    )


def read_blob_range(blobs: DataFrame, t0, t1) -> DataFrame:
    """Range/point query over the blob store: prune blobs on the
    [start_ts, end_ts] METADATA columns first (plain comparisons -> parquet
    min/max row-group skipping and partition pruning; the binary payloads
    of non-overlapping blobs are never read or decoded), then decode only
    survivors and trim to the range.

    This is the TSDB read path the codec exists for: a 1-hour lookup in a
    decade of blobs decodes ~one blob per url, not the decade.
    """
    lo = F.lit(t0).cast("timestamp")
    hi = F.lit(t1).cast("timestamp")
    pruned = blobs.filter((F.col("end_ts") >= lo) & (F.col("start_ts") <= hi))
    return decode_blobs(pruned).filter(F.col("bucket_ts").between(lo, hi))


def compact_blobs(
    blobs: DataFrame,
    new_points: DataFrame,
    tier: str,
    ts_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """Backfill/append compaction: merge new points into an existing
    single-tier blob set and re-encode — the incremental-maintenance path
    (decode -> merge -> encode per url; untouched urls can be excluded
    upstream with a semi-join on the new urls).

    Conflict rule: a new point REPLACES the stored point at the same
    (url, bucket) — backfill corrections win.  Deterministic: the merge is
    a struct-max (new-flag, value) per bucket and the encoder is a pure
    function of the sorted series, so compacted blobs are byte-identical
    to encoding the merged series from scratch (asserted in tests).
    """
    old = decode_blobs(blobs).select(
        "url",
        F.col("bucket_ts").alias(ts_col),  # decode always emits bucket_ts
        F.col("value").alias("_v"),
        F.lit(0).alias("_p"),
    )
    new = new_points.select(
        "url",
        ts_col,
        F.col(value_col).cast("double").alias("_v"),
        F.lit(1).alias("_p"),
    )
    merged = (
        old.unionByName(new)
        .groupBy("url", ts_col)
        .agg(F.max(F.struct("_p", "_v")).alias("_s"))
        .select("url", ts_col, F.col("_s._v").alias("value"))
    )
    return encode_blobs(merged, tier, ts_col=ts_col, value_col="value")


TIER_BLOBS_SCHEMA = (
    "url string, tier string, start_ts timestamp, end_ts timestamp, "
    "n_points int, ts_blob binary, stat_blobs map<string,binary>, codec_ver int"
)


def encode_tier_blobs(
    tier_df: DataFrame,
    tier: str,
    stat_cols: tuple[str, ...] = ("cnt", "sum_len", "min_len", "max_len", "sum_ts"),
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """Numeric tier archive: one timestamp stream + one Gorilla stream PER
    STAT per (url, tier) — unlike :func:`encode_blobs` (single value
    column), decoding reconstructs every archived NUMERIC stat bit-exactly,
    so coarser numeric tiers cascade exactly from the blob store alone
    (cnt+sum algebra; sum_ts included by default so model fits keep the
    true mean observation time).

    SCOPE — what the archive does NOT hold: ``lang_dist`` (a map cannot
    ride a float codec) and gap rows (recreate with gap_fill after
    decode).  The lang_dist history has its own companion archive —
    :func:`encode_lang_blobs` stores one count stream per (url, lang) —
    so writing BOTH archives lets the tier parquet age out entirely with
    no information loss (asserted end-to-end in tests/test_codec.py).

    Same physical plan as encode_blobs (url runs via map_key_runs).
    Ints ride the float codec via exact int64->float64 widening (lossless
    to 2^53 — tier counts/sums, incl. summed epoch seconds, are far below).
    """
    cols = ["url", "tier", "start_ts", "end_ts", "n_points", "ts_blob",
            "stat_blobs", "codec_ver"]

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        urls = pdf["url"].to_numpy()
        stats = {c: pdf[c].to_numpy(dtype="float64") for c in stat_cols}
        rows = []
        for s, e, t_g, order in _sorted_runs(pdf, ts_col, "url"):
            rows.append(
                (
                    urls[s],
                    tier,
                    pd.Timestamp(t_g[0] * 1000),
                    pd.Timestamp(t_g[-1] * 1000),
                    e - s,
                    encode_dod(t_g),
                    {c: encode_gorilla(v[s:e][order]) for c, v in stats.items()},
                    CODEC_VERSION,
                )
            )
        return pd.DataFrame(rows, columns=cols)

    proj = _real_points(tier_df).select(
        "url", ts_col, *[F.col(c).cast("double").alias(c) for c in stat_cols]
    )
    return map_key_runs(proj, "url", [ts_col], encode, TIER_BLOBS_SCHEMA)


LANG_BLOBS_SCHEMA = (
    "url string, tier string, lang string, start_ts timestamp, end_ts timestamp, "
    "n_points int, ts_blob binary, cnt_blob binary, codec_ver int"
)


def encode_lang_blobs(
    tier_df: DataFrame, tier: str, ts_col: str = "bucket_ts"
) -> DataFrame:
    """lang_dist archive: one delta-of-delta timestamp stream + one
    Gorilla count stream per (url, lang) — the dictionary-encoded
    companion that closes the tier-parquet age-out story (the numeric
    stats ride :func:`encode_tier_blobs`; this holds the map column's
    history).  Counts are tiny ints so the XOR stream is near-free.

    Physical plan mirrors the other encoders: map_key_runs over the
    exploded map, keyed on the (url, lang) run — each run encodes
    independently."""
    cols = ["url", "tier", "lang", "start_ts", "end_ts", "n_points",
            "ts_blob", "cnt_blob", "codec_ver"]

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        urls, langs = pdf["url"].to_numpy(), pdf["lang"].to_numpy()
        cnts = pdf["cnt"].to_numpy(dtype="float64")
        rows = []
        for s, e, t_g, order in _sorted_runs(pdf, ts_col, "url", "lang"):
            rows.append(
                (
                    urls[s],
                    tier,
                    langs[s],
                    pd.Timestamp(t_g[0] * 1000),
                    pd.Timestamp(t_g[-1] * 1000),
                    e - s,
                    encode_dod(t_g),
                    encode_gorilla(cnts[s:e][order]),
                    CODEC_VERSION,
                )
            )
        return pd.DataFrame(rows, columns=cols)

    proj = _real_points(tier_df).select(
        "url", ts_col, F.explode("lang_dist").alias("lang", "cnt")
    ).withColumn("cnt", F.col("cnt").cast("double"))
    return map_key_runs(proj, ("url", "lang"), [ts_col], encode, LANG_BLOBS_SCHEMA)


def decode_lang_blobs(blobs: DataFrame) -> DataFrame:
    """Inverse of :func:`encode_lang_blobs`: one (url, tier, lang,
    bucket_ts, cnt) row per archived point.  Rebuild the map form with
    ``map_from_entries(sort_array(collect_list(struct(lang, cnt))))`` per
    (url, bucket) — exactly the rollup's deterministic construction — or
    re-aggregate to coarser tiers by summing cnt per (url, lang, bucket)
    first (the cascade algebra)."""

    def decode_batches(batches):
        from yatsm_spark.functions.codec import decode_dod, decode_gorilla

        for pdf in batches:
            if pdf.empty:
                continue
            frames = []
            for url, tier, lang, tsb, cb in zip(
                pdf["url"], pdf["tier"], pdf["lang"], pdf["ts_blob"], pdf["cnt_blob"]
            ):
                ts_us = decode_dod(bytes(tsb))
                frames.append(
                    pd.DataFrame(
                        {
                            "url": np.repeat(url, ts_us.size),
                            "tier": np.repeat(tier, ts_us.size),
                            "lang": np.repeat(lang, ts_us.size),
                            "bucket_ts": pd.to_datetime(ts_us, unit="us"),
                            "cnt": decode_gorilla(bytes(cb)),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return blobs.select("url", "tier", "lang", "ts_blob", "cnt_blob").mapInPandas(
        decode_batches,
        schema="url string, tier string, lang string, bucket_ts timestamp, cnt double",
    )


def decode_tier_blobs(blobs: DataFrame, stat_cols: tuple[str, ...]) -> DataFrame:
    """Inverse of :func:`encode_tier_blobs`: one row per bucket with every
    archived stat — cnt/sum columns come back as exact integers, ready for
    cascade()'s re-aggregation algebra."""
    schema = "url string, tier string, bucket_ts timestamp, " + ", ".join(
        f"{c} double" for c in stat_cols
    )

    def decode_batches(batches):
        from yatsm_spark.functions.codec import decode_dod, decode_gorilla

        for pdf in batches:
            if pdf.empty:
                continue
            frames = []
            for url, tier, tsb, sb in zip(
                pdf["url"], pdf["tier"], pdf["ts_blob"], pdf["stat_blobs"]
            ):
                ts_us = decode_dod(bytes(tsb))
                d = {
                    "url": np.repeat(url, ts_us.size),
                    "tier": np.repeat(tier, ts_us.size),
                    "bucket_ts": pd.to_datetime(ts_us, unit="us"),
                }
                for c in stat_cols:
                    d[c] = decode_gorilla(bytes(sb[c]))
                frames.append(pd.DataFrame(d))
            yield pd.concat(frames, ignore_index=True)

    return blobs.select("url", "tier", "ts_blob", "stat_blobs").mapInPandas(
        decode_batches, schema=schema
    )
