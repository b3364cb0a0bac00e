"""Table storage abstraction: Iceberg on a real cluster, Parquet locally.

The sandbox has no Iceberg runtime jar and no network to fetch one
(SURVEY.md §1.2), so the catalog is abstracted behind this module:
``USE_ICEBERG=1`` (env) switches writers to ``writeTo(...)`` with Iceberg
partition transforms; the default writes Parquet in an equivalent layout
with explicit ``p_bucket``/``p_day`` columns.

Layout contract (north_star: ``bucket(url) x days(warc_ts)``):
  * p_bucket = pmod(hash(url), N_BUCKETS) — Spark Murmur3; our OWN column,
    used consistently on both layouts so they agree by construction (note:
    Spark hash() and Iceberg's bucket transform are murmur3 cousins but
    NOT bit-identical — we never mix the two on one table).
  * p_day = to_date(warc_ts) — analog of Iceberg days(warc_ts).

Readers prune: a ``p_day BETWEEN ...`` predicate prunes directories under
the Parquet layout and partitions under Iceberg; a ``url = ...`` point
query derives p_bucket = pmod(hash(lit(url)), B) and prunes buckets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 16  # sandbox analog of Iceberg bucket(url, B); production: 1024+


def use_iceberg() -> bool:
    return os.environ.get("USE_ICEBERG", "0") == "1"


def with_layout(df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts",
                n_buckets: int = N_BUCKETS) -> DataFrame:
    """Add the layout columns (idempotent)."""
    out = df
    if "p_bucket" not in df.columns:
        out = out.withColumn("p_bucket", F.pmod(F.hash(url_col), F.lit(n_buckets)).cast("int"))
    if "p_day" not in df.columns:
        out = out.withColumn("p_day", F.to_date(ts_col))
    return out


def write_table(df: DataFrame, target: str, partition_cols: tuple[str, ...] = ("p_bucket", "p_day"),
                mode: str = "overwrite") -> None:
    """Write a table: Iceberg `writeTo` when USE_ICEBERG=1 (target = catalog
    table name), Parquet directory otherwise (target = path).

    Rows are clustered (repartition by partition cols + sorted within
    files by url, ts when present) so Parquet row-group min/max stats
    prune point/range queries nearly as well as finer partitioning would —
    without the small-files explosion of over-partitioning.
    """
    cluster = [c for c in ("url", "warc_ts", "bucket_ts") if c in df.columns]
    staged = df.repartition(*[F.col(c) for c in partition_cols])
    if cluster:
        staged = staged.sortWithinPartitions(*cluster)
    if use_iceberg():
        writer = staged.writeTo(target).using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
    else:
        staged.write.mode(mode).partitionBy(*partition_cols).parquet(target)


def write_bucketed_tier(
    df: DataFrame,
    table: str,
    n_buckets: int = N_BUCKETS,
    key: str = "url",
    ts_col: str = "bucket_ts",
) -> None:
    """Write a tier as a url-bucketed, url-sorted managed table so grouped
    kernel stages (segmentation, blob encode) can run SHUFFLE-FREE on read
    (`presorted=True` in plans/) — the sandbox analog of Iceberg's
    storage-partitioned join / bucketed scan on a real cluster.

    The pre-write ``repartition(k, key)`` uses the same Murmur3-mod
    partitioning as ``bucketBy``, with ``k`` the smallest divisor of
    ``n_buckets`` that is >= the default parallelism (``n_buckets`` if
    none): since ``k`` divides ``n_buckets``,
    ``pmod(h, n_buckets) mod k == pmod(h, k)``, so each bucket lands
    whole in exactly one writer task, which writes it as ONE file.  That
    is what makes a bucket's scan partition globally (key, ts)-sorted;
    multiple files per bucket would interleave keys and break group
    contiguity.  ``k`` tasks rather than ``n_buckets`` keeps the write
    from paying per-task overhead for a few rows per bucket.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    k = next((d for d in range(par, n_buckets) if n_buckets % d == 0), n_buckets)
    (
        df.repartition(k, F.col(key))
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key, ts_col)
        .saveAsTable(table)
    )


def prune_url(df: DataFrame, url: str, n_buckets: int = N_BUCKETS) -> DataFrame:
    """Point-lookup pruning: a p_bucket predicate on the url's bucket, which
    the optimizer constant-folds to a literal partition filter, so the scan
    touches 1/n_buckets of the files (S3 semantics) and no job runs to
    compute the bucket."""
    bucket = F.pmod(F.hash(F.lit(url)), F.lit(n_buckets)).cast("int")
    return df.filter((F.col("p_bucket") == bucket) & (F.col("url") == url))
