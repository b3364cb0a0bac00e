"""Rollup tier correctness: A1-A4 semantics on the synthetic crawl."""

from __future__ import annotations

from pyspark.sql import functions as F

from yatsm_spark.operators.rollup import (
    TIER_SECONDS,
    cascade,
    gap_fill,
    rollup,
    series_clean,
)
from yatsm_spark.operators.series import locf_series


def test_datagen_deterministic(spark):
    from yatsm_spark.datagen import generate_crawl

    a = generate_crawl(spark, n_urls=20, span_days=30)
    b = generate_crawl(spark, n_urls=20, span_days=30).repartition(13)
    assert a.count() == b.count() > 0
    # partition-layout invariance: same rows, same bytes
    ha = a.select(F.expr("bit_xor(xxhash64(url, warc_ts, text, lang))")).first()[0]
    hb = b.select(F.expr("bit_xor(xxhash64(url, warc_ts, text, lang))")).first()[0]
    assert ha == hb


def test_hot_domain_skew(tiny_crawl):
    total = tiny_crawl.count()
    hot = tiny_crawl.filter(F.col("url").contains("hot.example")).count()
    assert 0.10 < hot / total < 0.35  # ~20% by design


def test_rollup_1h_counts(spark, tiny_crawl):
    clean = series_clean(tiny_crawl)
    r1h = rollup(clean, "1h")
    # every observation lands in exactly one bucket
    assert r1h.agg(F.sum("cnt")).first()[0] == clean.count()
    # bucket alignment: bucket_ts <= warc_ts < bucket_ts + 1h
    joined = clean.join(r1h, "url").filter(
        (F.col("warc_ts") >= F.col("bucket_ts"))
        & (F.unix_timestamp("warc_ts") < F.unix_timestamp("bucket_ts") + 3600)
    )
    assert joined.count() == clean.count()
    row = r1h.filter(F.col("cnt") > 0).first()
    assert row["mean_len"] == row["sum_len"] / row["cnt"]
    assert row["min_len"] <= row["mean_len"] <= row["max_len"]


def test_lang_dist_sums_to_cnt(spark, tiny_crawl):
    r1h = rollup(series_clean(tiny_crawl), "1h")
    bad = r1h.filter(
        F.aggregate(F.map_values("lang_dist"), F.lit(0).cast("long"), lambda a, x: a + x)
        != F.col("cnt")
    ).count()
    assert bad == 0


def test_cascade_exactness(spark, tiny_crawl):
    """30d from 1d must equal 30d straight from raw (A2, SURVEY §5.2.3)."""
    clean = series_clean(tiny_crawl)
    r1h = rollup(clean, "1h")
    r1d = cascade(r1h, "1d")
    r30d_cascaded = cascade(r1d, "30d")
    r30d_direct = rollup(clean, "30d")
    cols = ["url", "bucket_ts", "cnt", "sum_len", "min_len", "max_len"]
    diff = (
        r30d_cascaded.select(cols).exceptAll(r30d_direct.select(cols)).count()
        + r30d_direct.select(cols).exceptAll(r30d_cascaded.select(cols)).count()
    )
    assert diff == 0
    # lang maps match too (compare exploded, order-insensitive)
    lc = r30d_cascaded.select("url", "bucket_ts", F.explode("lang_dist"))
    ld = r30d_direct.select("url", "bucket_ts", F.explode("lang_dist"))
    assert lc.exceptAll(ld).count() == 0 and ld.exceptAll(lc).count() == 0


def test_gap_fill_completes_grid(spark, tiny_crawl):
    r1d = rollup(series_clean(tiny_crawl), "1d")
    filled = gap_fill(r1d, "1d")
    # per url the bucket sequence is now dense at 1d steps
    step = TIER_SECONDS["1d"]
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("bucket_ts")
    holes = (
        filled.withColumn("_next", F.lead("bucket_ts").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.unix_timestamp("_next") - F.unix_timestamp("bucket_ts") != step)
        )
        .count()
    )
    assert holes == 0
    # fills are flagged and empty; real rows unchanged
    assert filled.filter(F.col("gap_filled") & (F.col("cnt") != 0)).count() == 0
    assert filled.filter(~F.col("gap_filled")).count() == r1d.count()
    # datagen plants a gap in every url's series, so fills must exist
    assert filled.filter(F.col("gap_filled")).count() > 0


def test_locf(spark, tiny_crawl):
    r1d = gap_fill(rollup(series_clean(tiny_crawl), "1d"), "1d")
    f = locf_series(r1d, ("mean_len",), ("url",))
    # gap rows carry the previous real mean
    assert f.filter(F.col("gap_filled") & F.col("mean_len_locf").isNull()).count() == 0


def test_text_byte_identity(spark, tiny_crawl):
    """Per-row invariant (BASELINE.json:15): the engine never mutates text.

    series_clean carries text through; hash per (url, warc_ts) must match
    the source exactly.
    """
    src = tiny_crawl.select("url", "warc_ts", F.sha2("text", 256).alias("h"))
    out = series_clean(tiny_crawl).select("url", "warc_ts", F.sha2("text", 256).alias("h"))
    # clean is a subset (dedup/filter) but every surviving hash matches source
    assert out.join(src, ["url", "warc_ts", "h"], "left_anti").count() == 0


def test_apply_retention_keeps_trailing_window(spark):
    from yatsm_spark.operators.rollup import apply_retention

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "url": ["u"] * 10,
            "bucket_ts": pd.date_range("2024-01-01", periods=10, freq="D"),
            "cnt": range(10),
        }
    )
    df = spark.createDataFrame(pdf)
    kept = apply_retention(df, "3 days").collect()
    # anchor = 2024-01-10; strictly newer than 01-07 -> 01-08/09/10
    assert sorted(r["bucket_ts"].day for r in kept) == [8, 9, 10]
    assert apply_retention(df, None).count() == 10
    # explicit anchor overrides the data anchor (wall-clock-style cutoff)
    kept2 = apply_retention(df, "12 days", anchor="2024-01-20").collect()
    assert sorted(r["bucket_ts"].day for r in kept2) == [9, 10]


def test_apply_retention_prunes_on_p_day(spark):
    """With the partition column present, the retention predicate must
    reach the scan as a p_day filter (partition-prunable at scale)."""
    from pyspark.sql import functions as F

    from yatsm_spark.operators.rollup import apply_retention

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "url": ["u"] * 6,
            "bucket_ts": pd.date_range("2024-02-01", periods=6, freq="D"),
            "cnt": range(6),
        }
    )
    df = spark.createDataFrame(pdf).withColumn("p_day", F.to_date("bucket_ts"))
    out = apply_retention(df, "2 days", anchor="2024-02-06")
    assert sorted(r["p_day"].day for r in out.collect()) == [5, 6]
    assert "p_day" in out._jdf.queryExecution().optimizedPlan().toString()


def test_merge_tiers_equals_full_rollup(spark):
    """Incremental maintenance is EXACT: rollup(part1) merged with
    rollup(part2) equals rollup(all rows) — including a bucket straddling
    the split and the merged lang_dist maps."""
    from pyspark.sql import functions as F

    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.rollup import merge_tiers, rollup, series_clean

    crawl = series_clean(generate_crawl(spark, n_urls=8, span_days=20), keep_text=False)
    cut = "2024-01-10 12:30:00"  # mid-bucket: the 12:00 bucket straddles
    t_old = rollup(crawl.filter(F.col("warc_ts") < cut), "1h")
    t_new = rollup(crawl.filter(F.col("warc_ts") >= cut), "1h")
    merged = merge_tiers(t_old, t_new)
    full = rollup(crawl, "1h")

    def cmp(df):  # maps can't go through set ops: compare sorted entries
        return df.select(
            "url", "bucket_ts", "cnt", "sum_len", "min_len", "max_len",
            "sum_ts", F.array_sort(F.map_entries("lang_dist")).alias("ld"),
        )

    a, b = cmp(merged), cmp(full)
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0


# ------------------------------------------------------------ stitch_range


def test_stitch_range_hand_values(spark):
    """Interior days come from the coarse tier, ragged edges from the
    fine tier, and the stitched aggregate equals the raw-range
    aggregate exactly."""
    from datetime import datetime, timedelta

    from yatsm_spark.operators.rollup import stitch_range
    from yatsm_spark.operators.series import cascade_series, rollup_series
    from pyspark.sql import functions as F

    t0 = datetime(2024, 1, 1)
    # one obs per hour for 5 days, value = hour index
    rows = [
        ("k", t0 + timedelta(hours=h), h) for h in range(5 * 24)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    t1h = rollup_series(df, "1h", ("k",), "ts", "v")
    t1d = cascade_series(t1h, "1d", ("k",))
    # range [Jan 1 20:00, Jan 4 05:00): edges 20..23 and 72..76, interior
    # Jan 2 + Jan 3 from the 1d tier
    epoch = 1704067200  # 2024-01-01 00:00 UTC (session tz is pinned UTC)
    lo = epoch + 20 * 3600
    hi = epoch + 77 * 3600
    rows_out = stitch_range(t1h, t1d, lo, hi, 3600, 86400, keys=("k",))
    got = rows_out.groupBy("k").agg(
        F.sum("cnt").alias("cnt"), F.sum("sum_val").alias("s"),
        F.min("min_val").alias("mn"), F.max("max_val").alias("mx"),
    ).first()
    hours = list(range(20, 77))
    assert (got["cnt"], got["s"], got["mn"], got["mx"]) == (
        len(hours), sum(hours), min(hours), max(hours)
    )
    # exactly 2 coarse rows + (4 + 5) fine rows were touched
    assert rows_out.count() == 2 + 4 + 5


def test_stitch_range_degenerate_short_range(spark):
    """A range shorter than one coarse bucket falls back to fine rows
    only — never a wrong interior."""
    from datetime import datetime, timedelta

    from yatsm_spark.operators.rollup import stitch_range
    from yatsm_spark.operators.series import cascade_series, rollup_series
    from pyspark.sql import functions as F

    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(hours=h), h) for h in range(48)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")
    t1h = rollup_series(df, "1h", ("k",), "ts", "v")
    t1d = cascade_series(t1h, "1d", ("k",))
    epoch = 1704067200
    lo = epoch + 5 * 3600
    hi = epoch + 11 * 3600
    out = stitch_range(t1h, t1d, lo, hi, 3600, 86400, keys=("k",))
    assert out.count() == 6
    s = out.agg(F.sum("sum_val")).first()[0]
    assert s == sum(range(5, 11))


def test_stitch_range_requires_alignment(spark):
    import pytest as _pytest

    from yatsm_spark.operators.rollup import stitch_range

    df = spark.range(1).selectExpr("'k' AS k", "current_timestamp() AS bucket_ts",
                                   "1L AS cnt", "1L AS sum_val", "1L AS min_val",
                                   "1L AS max_val")
    with _pytest.raises(ValueError):
        stitch_range(df, df, 10, 7200, 3600, 86400, keys=("k",))
