"""K13: RF segment classification — labels derived from the datagen kind
rule (url_id % 7 parsed back out of the url), so ground truth is exact."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from yatsm_spark.datagen import generate_crawl
from yatsm_spark.functions.ccdc import CCDCParams
from yatsm_spark.operators.rollup import rollup, series_clean
from yatsm_spark.plans.classify import classify_segments, train_segment_classifier
from yatsm_spark.plans.segmentation import segment_series


@pytest.fixture(scope="module")
def segments_with_truth(spark):
    crawl = generate_crawl(spark, n_urls=42, span_days=400)
    tier = rollup(series_clean(crawl), "1d")
    params = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0)
    segs = segment_series(tier, params).cache()
    # truth: url_id is embedded in the url (pageNNNNNN); breaking kinds are
    # url_id%7 in {3 (level shift), 5 (trend)} -> label 1, else 0
    url_id = F.regexp_extract("url", r"page(\d+)", 1).cast("long")
    truth = segs.select("url").distinct().withColumn(
        "label", F.pmod(url_id, F.lit(7)).isin(3, 5).cast("int")
    )
    return segs, truth


def test_rf_learns_break_vs_stable(spark, segments_with_truth):
    segs, truth = segments_with_truth
    model = train_segment_classifier(segs, truth, n_trees=30, max_depth=6)
    scored = classify_segments(model, segs).join(truth, "url")
    agg = scored.select(
        (F.col("predicted_label") == F.col("label")).cast("int").alias("ok")
    ).agg(F.avg("ok").alias("acc")).first()
    # in-sample accuracy on separable synthetic truth should be high
    assert agg["acc"] > 0.85


def test_classify_is_deterministic(spark, segments_with_truth):
    segs, truth = segments_with_truth
    m1 = train_segment_classifier(segs, truth, n_trees=10, max_depth=4)
    m2 = train_segment_classifier(segs, truth, n_trees=10, max_depth=4)
    a = sorted(map(tuple, classify_segments(m1, segs).collect()))
    b = sorted(map(tuple, classify_segments(m2, segs).collect()))
    assert a == b  # pinned seed -> identical forests -> identical labels


def test_classify_after_observe(spark, segments_with_truth):
    """Scoring must not depend on what the session ran before: a session
    that has served a df.observe no longer serializes, so the model's
    transform must not close over it."""
    from pyspark.sql import Observation

    segs, truth = segments_with_truth
    obs = Observation("before_classify")
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == 3
    model = train_segment_classifier(segs, truth, n_trees=5, max_depth=3)
    scored = classify_segments(model, segs).collect()
    assert len(scored) == segs.count()
