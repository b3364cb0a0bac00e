"""plans.map_key_runs — the one runner behind every per-key pandas kernel.

A key run that crosses an Arrow batch boundary is carried into the next
batch, so each caller's output must not depend on the batch size."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yatsm_spark.functions.ccdc import CCDCParams
from yatsm_spark.operators.rollup import rollup, series_clean
from yatsm_spark.operators.series import ewma_series
from yatsm_spark.plans.blobs import encode_blobs, encode_lang_blobs, encode_tier_blobs
from yatsm_spark.plans.segmentation import segment_series

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
SMALL_BATCH = 64
PARAMS = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0)

CALLERS = {
    "encode_blobs": lambda t: encode_blobs(t, "1d", value_col="mean_len"),
    "encode_tier_blobs": lambda t: encode_tier_blobs(t, "1d"),
    "encode_lang_blobs": lambda t: encode_lang_blobs(t, "1d"),
    "segment_series": lambda t: segment_series(t, PARAMS),
    "ewma_series": lambda t: ewma_series(
        t, key_col="url", ts_col="bucket_ts", value_col="mean_len"
    ),
}


@pytest.fixture(scope="module")
def tier(spark):
    from yatsm_spark.datagen import generate_crawl

    df = rollup(
        series_clean(generate_crawl(spark, n_urls=30, span_days=400), keep_text=False),
        "1d",
    ).cache()
    # the runs must be longer than a small batch, or nothing is carried
    longest = df.groupBy("url").count().agg(F.max("count")).first()[0]
    assert longest > 2 * SMALL_BATCH
    yield df
    df.unpersist()


def _rows(df):
    """Order-independent, comparable rows (binary/array/map made hashable)."""

    def h(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, list):
            return tuple(v)
        if isinstance(v, dict):
            return tuple(sorted((k, h(x)) for k, x in v.items()))
        return v

    return sorted((tuple(h(v) for v in r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("caller", list(CALLERS))
def test_output_independent_of_arrow_batch_size(spark, tier, caller):
    build = CALLERS[caller]
    expected = _rows(build(tier))
    default = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, str(SMALL_BATCH))
    try:
        got = _rows(build(tier))
    finally:
        spark.conf.set(BATCH_CONF, default)
    assert expected
    assert got == expected

