"""Salting, storage layout, checkpoint/resume (SURVEY.md §7 step 7)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from yatsm_spark.operators.salt import detect_hot_keys, salted_agg, with_salt
from yatsm_spark.sources import checkpoints as ckpt
from yatsm_spark.sources.storage import prune_url, with_layout, write_table


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot domain with 80% of rows
    hot = spark.range(8000).select(
        F.lit("hot.example").alias("domain"), (F.col("id") % 97).cast("double").alias("v")
    )
    cold = spark.range(2000).select(
        F.concat(F.lit("d"), (F.col("id") % 50).cast("string")).alias("domain"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    return hot.unionByName(cold).cache()


def test_detect_hot_keys(skewed):
    hot = detect_hot_keys(skewed, ["domain"], threshold_rows=1000).collect()
    assert [r["domain"] for r in hot] == ["hot.example"]


def test_salting_preserves_aggregates(skewed):
    hot = detect_hot_keys(skewed, ["domain"], threshold_rows=1000)
    salted = salted_agg(
        skewed,
        ["domain"],
        stage1_aggs=[F.count("*").alias("c"), F.sum("v").alias("s")],
        stage2_aggs=[F.sum("c").alias("cnt"), F.sum("s").alias("sum_v")],
        hot=hot,
        salt_cols=["domain", "v"],
        n_salts=8,
    )
    plain = skewed.groupBy("domain").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("sum_v")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_spreads_hot_key(skewed):
    hot = detect_hot_keys(skewed, ["domain"], threshold_rows=1000)
    s = with_salt(skewed, hot, ["domain"], ["domain", "v"], n_salts=8)
    spread = (
        s.filter(F.col("domain") == "hot.example").select("_salt").distinct().count()
    )
    assert spread == 8  # hot key fans out over all salts
    cold = s.filter(F.col("domain") != "hot.example").select("_salt").distinct().collect()
    assert [r["_salt"] for r in cold] == [0]  # cold keys unsalted


def _job_tasks(spark, group, fn) -> list[int]:
    """Run ``fn`` in a fresh job group; the task count of each job it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return [
        sum(info.numTasks for info in map(st.getStageInfo, st.getJobInfo(j).stageIds) if info)
        for j in st.getJobIdsForGroup(group)
    ]


def test_storage_layout_roundtrip(spark, tmp_path, tiny_crawl):
    path = str(tmp_path / "crawl_tbl")
    df = with_layout(tiny_crawl.drop("p_bucket", "p_day"))
    write_table(df, path)
    back = spark.read.parquet(path)
    assert back.count() == tiny_crawl.count()
    # pruned point lookup returns exactly that url's rows
    url = tiny_crawl.select("url").first()["url"]
    got = prune_url(back, url).count()
    want = tiny_crawl.filter(F.col("url") == url).count()
    assert got == want > 0
    # the bucket is a constant-folded literal: no job computes it, and the
    # scan prunes to that bucket's directories
    assert _job_tasks(spark, "prune_url", lambda: prune_url(back, url)) == []
    plan = prune_url(back, url)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\(p_bucket#\d+ = \d+\)", plan), plan


def test_partition_discovery_starts_no_listing_job(spark, tmp_path):
    """Past Spark's 32-path threshold a read lists partition directories
    in a distributed job with one task per directory; in local mode the
    driver lists them itself."""
    path = str(tmp_path / "days")
    spark.range(40).withColumn("p_day", F.col("id")).write.partitionBy("p_day").parquet(path)
    tasks = _job_tasks(spark, "read_40_dirs", lambda: spark.read.parquet(path))
    assert max(tasks, default=0) < 40, tasks


def test_checkpoint_resume_anti_join(spark, tmp_path):
    mpath = str(tmp_path / "manifest")
    parts = spark.createDataFrame(
        [(str(i),) for i in range(6)], "partition_key string"
    )
    m0 = ckpt.read_manifest(spark, mpath)
    assert ckpt.pending_partitions(parts, m0, "r1").count() == 6
    ckpt.mark_done(spark, mpath, "r1", "2", 100, 90, 1234, 17)
    ckpt.mark_done(spark, mpath, "r1", "4", 50, 45, 600, 9)
    m1 = ckpt.read_manifest(spark, mpath)
    pend = sorted(r["partition_key"] for r in ckpt.pending_partitions(parts, m1, "r1").collect())
    assert pend == ["0", "1", "3", "5"]
    # a different run id sees everything pending (runs are isolated)
    assert ckpt.pending_partitions(parts, m1, "r2").count() == 6


def test_read_manifest_empty_only_when_missing(spark, tmp_path):
    """A missing manifest is a first run (no rows); an existing one is read
    as written, and a corrupt part file raises instead of reading as an
    empty manifest (which would recompute every partition, every run)."""
    mpath = str(tmp_path / "manifest")
    assert ckpt.read_manifest(spark, mpath).count() == 0
    (tmp_path / "manifest").mkdir()
    assert ckpt.read_manifest(spark, mpath).count() == 0
    ckpt.mark_done(spark, mpath, "r1", "2", 100, 90, 1234, 17)
    assert ckpt.read_manifest(spark, mpath).count() == 1
    for f in (tmp_path / "manifest").iterdir():
        if f.name.endswith(".crc"):
            f.unlink()
        elif f.name.startswith("part-"):
            f.write_bytes(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        ckpt.read_manifest(spark, mpath).count()


def test_fingerprint_is_order_insensitive(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id long, s string")
    b = spark.createDataFrame([(3, "z"), (1, "x"), (2, "y")], "id long, s string")
    c = spark.createDataFrame([(1, "x"), (2, "y"), (4, "w")], "id long, s string")
    fa = ckpt.fingerprint_chunk(a.repartition(4), ("id", "s"))
    fb = ckpt.fingerprint_chunk(b.repartition(2), ("id", "s"))
    fc = ckpt.fingerprint_chunk(c, ("id", "s"))
    assert fa == fb != fc


def test_fingerprint_is_multiplicity_sensitive(spark):
    """A row repeated an even number of times must NOT cancel out (plain
    xor of row hashes did): duplicating an existing row changes the
    fingerprint, as does adding the same row twice."""
    base = [(1, "x"), (2, "y"), (3, "z")]
    a = spark.createDataFrame(base, "id long, s string")
    dup1 = spark.createDataFrame(base + [(1, "x")], "id long, s string")
    dup2 = spark.createDataFrame(base + [(1, "x"), (1, "x")], "id long, s string")
    fa = ckpt.fingerprint_chunk(a, ("id", "s"))
    f1 = ckpt.fingerprint_chunk(dup1, ("id", "s"))
    f2 = ckpt.fingerprint_chunk(dup2, ("id", "s"))
    assert len({fa, f1, f2}) == 3
