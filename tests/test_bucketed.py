"""Bucketed-tier shuffle-free kernel path (storage.write_bucketed_tier +
presorted=True) — the sandbox analog of Iceberg storage-partitioned scans."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from yatsm_spark.functions.ccdc import CCDCParams
from yatsm_spark.operators.rollup import rollup, series_clean
from yatsm_spark.plans.blobs import encode_blobs
from yatsm_spark.plans.segmentation import segment_series
from yatsm_spark.sources.storage import write_bucketed_tier

PARAMS = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0)


@pytest.fixture(scope="module", params=[4, 16])
def bucketed_tier(spark, request):
    from yatsm_spark.datagen import generate_crawl

    n_buckets = request.param
    tier = rollup(
        series_clean(generate_crawl(spark, n_urls=30, span_days=400), keep_text=False),
        "1d",
    )
    write_bucketed_tier(tier, "t1d_bucketed", n_buckets=n_buckets)
    table = spark.table("t1d_bucketed")
    # one file per non-empty bucket (bucketed file names end in
    # _<bucket id>.c<n>); the part-<n> prefix is the writer task's partition
    names = [os.path.basename(f) for f in table.inputFiles()]
    buckets = sorted(int(re.search(r"_(\d{5})\.c\d+", n).group(1)) for n in names)
    want = tier.select(F.pmod(F.hash("url"), F.lit(n_buckets)).alias("b")).distinct()
    assert buckets == sorted(r["b"] for r in want.collect())
    tasks = {re.match(r"part-(\d+)", n).group(1) for n in names}
    if n_buckets == 16:
        assert len(tasks) < len(buckets), (tasks, buckets)
    yield table, tier
    spark.sql("DROP TABLE IF EXISTS t1d_bucketed")


def test_presorted_segmentation_is_shuffle_free_and_equal(bucketed_tier):
    table, tier = bucketed_tier
    fast = segment_series(table, PARAMS, presorted=True)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffle: scan -> mapInPandas
    slow = segment_series(tier, PARAMS)
    cols = ["url", "seg_id", "start_ts", "end_ts", "break_ts", "n_obs", "status"]
    a = sorted(map(tuple, fast.select(cols).collect()))
    b = sorted(map(tuple, slow.select(cols).collect()))
    assert a == b


def test_presorted_blobs_bit_identical(bucketed_tier):
    table, tier = bucketed_tier
    fast = encode_blobs(table, "1d", value_col="mean_len", presorted=True)
    assert "Exchange" not in fast._jdf.queryExecution().executedPlan().toString()
    slow = encode_blobs(tier, "1d", value_col="mean_len")
    a = sorted((r["url"], bytes(r["ts_blob"]), bytes(r["val_blob"])) for r in fast.collect())
    b = sorted((r["url"], bytes(r["ts_blob"]), bytes(r["val_blob"])) for r in slow.collect())
    assert a == b
