"""Per-partition checkpoint manifest: resumable jobs + lineage metrics.

North_star: "resumable from per-partition checkpoints with lineage +
row-count/byte metrics emitted per partition" (BASELINE.json:6).

Model (S4/J4 in SURVEY.md §2):
  * Work is chunked by ``partition_key`` (the layout's ``p_bucket`` —
    coarse enough that the manifest stays tiny: one row per bucket per
    run, NOT per task).
  * After a chunk's output is durably written, one manifest row is
    appended: (run_id, partition_key, status, rows_in, rows_out,
    bytes_out, wall_ms, input_fingerprint).
  * On restart, ``pending_partitions`` anti-joins the manifest's DONE rows
    against the full partition list — only unfinished buckets recompute
    (the reference's ``yatsm line --resume`` npz-glob check [U],
    reframed as a left-anti join).
  * ``input_fingerprint`` (xxhash64 of the chunk's row hashes) invalidates
    a checkpoint when the input changed under it.

The manifest is plain parquet appended per chunk — append-only, no
read-modify-write, safe under concurrent writers of different buckets.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "run_id string, partition_key string, status string, rows_in long, "
    "rows_out long, bytes_out long, wall_ms long, input_fingerprint string, "
    "finished_at timestamp"
)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The manifest rows, or none on a first run (no manifest yet).  Any
    other read failure raises: a corrupt manifest read as empty would
    silently recompute every partition on every run."""
    jvm, jsc = spark.sparkContext._jvm, spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(manifest_path)
    if not path.getFileSystem(jsc.hadoopConfiguration()).exists(path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    # explicit schema: an existing empty directory reads as empty
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)


def mark_done(
    spark: SparkSession,
    manifest_path: str,
    run_id: str,
    partition_key: str,
    rows_in: int,
    rows_out: int,
    bytes_out: int,
    wall_ms: int,
    input_fingerprint: str = "",
) -> None:
    row = [
        (
            run_id,
            partition_key,
            "done",
            rows_in,
            rows_out,
            bytes_out,
            wall_ms,
            input_fingerprint,
        )
    ]
    (
        spark.createDataFrame(
            row,
            "run_id string, partition_key string, status string, rows_in long, "
            "rows_out long, bytes_out long, wall_ms long, input_fingerprint string",
        )
        .withColumn("finished_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(manifest_path)
    )


def pending_partitions(
    all_parts: DataFrame, manifest: DataFrame, run_id: str
) -> DataFrame:
    """J4: all partitions MINUS this run's done set (left anti join)."""
    done = manifest.filter(
        (F.col("run_id") == run_id) & (F.col("status") == "done")
    ).select("partition_key")
    return all_parts.join(done, "partition_key", "left_anti")


def fingerprint_chunk(df: DataFrame, cols: tuple[str, ...]) -> str:
    """Order-insensitive, MULTIPLICITY-sensitive content fingerprint:
    xor of xxhash64(row_hash, row_count) over distinct row hashes.

    A plain xor of row hashes cancels any row repeated an even number of
    times (common in crawl data pre-dedup), so a chunk gaining or losing a
    duplicated pair kept its fingerprint and a stale checkpoint survived.
    Hashing (row_hash, count) pairs keeps the combine order-insensitive
    and xor-safe (distinct keys, no even-cancellation) without ANSI-mode
    sum overflow.  Cost: one narrow 8-byte+count shuffle with map-side
    partial aggregation; no sort, no data collect."""
    row = (
        df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("m"))
        .select(F.bit_xor(F.xxhash64("h", "m")).alias("fp"))
        .collect()
    )
    return str(row[0]["fp"] if row and row[0]["fp"] is not None else 0)


def dir_bytes(*paths: str) -> int:
    """Bytes actually written under the given output dirs (north_rule
    'row-count/byte metrics emitted per partition').  Local-fs walk — on a
    cluster swap for the Hadoop FileSystem getContentSummary call."""
    import os

    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


class PartitionMetrics:
    """Job metrics JSONL writer: one appended line per chunk or run."""

    def __init__(self, path: str):
        self.path = path

    def emit(self, **fields) -> None:
        fields.setdefault("ts", time.time())
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps(fields, default=str) + "\n")
