"""K13: random-forest classification of CCDC segments (pyspark.ml).

Reference analog: ``yatsm train`` / ``yatsm classify`` [U]
(yatsm/classification/classifiers.py, cli/train.py, cli/classify.py) —
train a random forest on per-segment harmonic coefficients, then label
every segment.  The reference aligns a label raster to records
positionally; here labels arrive as a (url, label) table joined on url.

Spark-first: features stay a DataFrame pipeline (fixed-width coef
explode -> VectorAssembler -> RandomForestClassifier with a pinned seed);
training collects nothing to the driver beyond the fitted model, scoring
is a distributed transform.  The model is broadcast by ml internals.
"""

from __future__ import annotations

from pyspark.ml.classification import RandomForestClassificationModel, RandomForestClassifier
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEED = 42


def segment_features(segments: DataFrame, n_coef: int = 4) -> DataFrame:
    """Fixed-width feature columns from the segments table: harmonic
    coefficients (padded/truncated to ``n_coef``), rmse, n_obs, and the
    break magnitude (0 when the segment closed without a break)."""
    out = segments
    for i in range(n_coef):
        out = out.withColumn(
            f"c{i}", F.coalesce(F.element_at("coef", i + 1), F.lit(0.0))
        )
    return (
        out.withColumn("f_rmse", F.coalesce(F.col("rmse"), F.lit(0.0)))
        .withColumn("f_nobs", F.col("n_obs").cast("double"))
        .withColumn("f_mag", F.coalesce(F.col("magnitude"), F.lit(0.0)))
    )


FEATURE_COLS = ["c0", "c1", "c2", "c3", "f_rmse", "f_nobs", "f_mag"]


def train_segment_classifier(
    segments: DataFrame,
    labels: DataFrame,
    n_trees: int = 50,
    max_depth: int = 8,
) -> RandomForestClassificationModel:
    """Fit an RF on segments joined to a (url, label) table.

    ``labels`` is broadcast (small by contract: one row per labeled url —
    the reference's training-data raster analog)."""
    feats = segment_features(segments).join(F.broadcast(labels), "url")
    assembled = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features").transform(
        feats.withColumn("label", F.col("label").cast("double"))
    )
    rf = RandomForestClassifier(
        numTrees=n_trees, maxDepth=max_depth, seed=SEED, labelCol="label"
    )
    # copy() drops the training summary, which references the session:
    # once the session has served a df.observe, the session (and so the
    # model closed over by transform's UDF) no longer serializes
    return rf.fit(assembled).copy()


def classify_segments(
    model: RandomForestClassificationModel, segments: DataFrame
) -> DataFrame:
    """Score every segment: adds ``predicted_label`` (distributed
    transform; no driver-side loop)."""
    assembled = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features").transform(
        segment_features(segments)
    )
    return model.transform(assembled).select(
        "url", "seg_id", "status", F.col("prediction").cast("int").alias("predicted_label")
    )
