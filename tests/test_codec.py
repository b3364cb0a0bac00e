"""K11 codec — hand-checked vectors, hypothesis round-trip properties, and
the Spark encode/decode plan (FIXTURES.md §3)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from yatsm_spark.functions.codec import (
    decode_dod,
    decode_gorilla,
    encode_dod,
    encode_gorilla,
)

# ---------------------------------------------------------------- hand vectors


def test_dod_constant_cadence_is_all_zero_bits():
    ts = np.arange(0, 100) * 3600 + 10
    blob = encode_dod(ts)
    # header 21 bytes + ceil(98 dod bits / 8) = 13 payload bytes, all zero
    assert len(blob) == 21 + 13
    assert set(blob[21:]) == {0}
    assert np.array_equal(decode_dod(blob), ts)


def test_dod_small_jitter_uses_7bit_class():
    ts = np.array([0, 3600, 7210, 10790], dtype=np.int64)  # dods +10, -30
    blob = encode_dod(ts)
    assert np.array_equal(decode_dod(blob), ts)
    # 2 points x 9 bits = 18 bits -> 3 bytes payload
    assert len(blob) == 21 + 3


def test_dod_huge_jump_falls_back_to_64bit():
    ts = np.array([0, 1, 2, 10**15], dtype=np.int64)
    assert np.array_equal(decode_dod(encode_dod(ts)), ts)


def test_dod_tiny_series():
    assert decode_dod(encode_dod(np.array([], dtype=np.int64))).size == 0
    assert np.array_equal(decode_dod(encode_dod(np.array([7]))), [7])
    assert np.array_equal(decode_dod(encode_dod(np.array([7, 9]))), [7, 9])


def test_gorilla_constant_values_one_bit_each():
    v = np.full(1000, 3.14159)
    blob = encode_gorilla(v)
    # header 13 bytes + 999 control bits -> 125 bytes
    assert len(blob) == 13 + 125
    assert np.array_equal(decode_gorilla(blob), v)


def test_gorilla_mixed_values():
    v = np.array([1.0, 1.0, 2.5, -7.25, 2.5, 0.0, 1e300, -1e-300, 3.0])
    assert np.array_equal(decode_gorilla(encode_gorilla(v)), v)


def test_gorilla_nan_inf_bit_exact():
    v = np.array([1.0, np.nan, np.inf, -np.inf, np.nan, 2.0])
    out = decode_gorilla(encode_gorilla(v))
    assert np.array_equal(
        out.view(np.uint64), v.view(np.uint64)
    )  # NaN payload bits preserved


def test_version_byte_guard():
    blob = bytearray(encode_dod(np.array([1, 2, 3])))
    blob[0] = 99
    with pytest.raises(ValueError, match="version"):
        decode_dod(bytes(blob))
    vb = bytearray(encode_gorilla(np.array([1.0])))
    vb[0] = 99
    with pytest.raises(ValueError, match="version"):
        decode_gorilla(bytes(vb))


def _inflate_count(blob: bytes, by: int) -> bytes:
    (n,) = struct.unpack_from("<I", blob, 1)
    return blob[:1] + struct.pack("<I", n + by) + blob[5:]


@pytest.mark.parametrize("codec", ["dod", "gorilla"])
@pytest.mark.parametrize(
    "mangle",
    [
        lambda b: b[: len(b) // 2],
        lambda b: b[:9],
        # +8 points cost >= 8 bits, more than the final byte's zero pad
        lambda b: _inflate_count(b, 8),
    ],
    ids=["truncated_half", "truncated_header", "inflated_count"],
)
def test_malformed_blob_raises_value_error(codec, mangle):
    rng = np.random.default_rng(7)
    ts = np.cumsum(rng.integers(3000, 4200, 200)).astype(np.int64)
    v = np.round(rng.normal(100.0, 20.0, 200), 1)
    blob, decode = {
        "dod": (encode_dod(ts), decode_dod),
        "gorilla": (encode_gorilla(v), decode_gorilla),
    }[codec]
    with pytest.raises(ValueError):
        decode(mangle(blob))


def test_blob_determinism():
    ts = np.array([0, 100, 250, 400, 900])
    v = np.array([1.0, 2.0, 2.0, -1.5, 8.25])
    assert encode_dod(ts) == encode_dod(ts.copy())
    assert encode_gorilla(v) == encode_gorilla(v.copy())


# ---------------------------------------------------------------- properties


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**52), min_size=0, max_size=300
    ).map(sorted)
)
def test_dod_roundtrip_property(ts_list):
    ts = np.array(ts_list, dtype=np.int64)
    assert np.array_equal(decode_dod(encode_dod(ts)), ts)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, width=64) | st.just(0.0) | st.just(-0.0),
        min_size=0,
        max_size=300,
    )
)
def test_gorilla_roundtrip_property(vals):
    v = np.array(vals, dtype=np.float64)
    out = decode_gorilla(encode_gorilla(v))
    assert np.array_equal(out.view(np.uint64), v.view(np.uint64))


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=3, max_size=100)
)
def test_dod_roundtrip_unsorted_deltas(deltas):
    ts = np.cumsum(np.array([10**9] + deltas, dtype=np.int64))
    ts.sort(kind="stable")
    assert np.array_equal(decode_dod(encode_dod(ts)), ts)


def test_compression_ratio_on_regular_series():
    # hourly cadence + small-magnitude value walk should compress well
    n = 5000
    ts = np.arange(n, dtype=np.int64) * 3_600_000_000
    rng_vals = np.round(2000 + 300 * np.cos(np.arange(n) / 24), 0)
    raw = n * 16
    enc = len(encode_dod(ts)) + len(encode_gorilla(rng_vals))
    assert enc < raw / 4  # >4x on the target workload


# ---------------------------------------------------------------- spark plan


def test_spark_blob_roundtrip(spark):
    from pyspark.sql import functions as F

    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.rollup import rollup, series_clean
    from yatsm_spark.plans.blobs import decode_blobs, encode_blobs

    tier = rollup(series_clean(generate_crawl(spark, n_urls=12, span_days=30)), "1d")
    blobs = encode_blobs(tier, "1d", value_col="mean_len").cache()
    assert blobs.count() == 12
    assert blobs.filter(F.col("codec_ver") != 1).count() == 0

    pts = decode_blobs(blobs)
    orig = tier.select(
        "url",
        F.lit("1d").alias("tier"),
        "bucket_ts",
        F.col("mean_len").cast("double").alias("value"),
    )
    # decoded points == original tier points (tier label included), bit-exact
    diff = pts.exceptAll(orig).count() + orig.exceptAll(pts).count()
    assert diff == 0


def test_read_blob_range_prunes_before_decode(spark):
    """Range reads must drop non-overlapping blobs on metadata alone (the
    filter sits on start_ts/end_ts above the decode) and return exactly
    the in-range points."""
    from pyspark.sql import functions as F

    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.rollup import rollup, series_clean
    from yatsm_spark.plans.blobs import encode_blobs, read_blob_range

    tier = rollup(series_clean(generate_crawl(spark, n_urls=6, span_days=40)), "1d")
    blobs = encode_blobs(tier, "1d", value_col="mean_len")
    t0, t1 = "2024-01-10", "2024-01-15"
    got = read_blob_range(blobs, t0, t1)
    exp = tier.select(
        "url", F.lit("1d").alias("tier"), "bucket_ts",
        F.col("mean_len").cast("double").alias("value"),
    ).filter(F.col("bucket_ts").between(t0, t1))
    assert got.exceptAll(exp).count() + exp.exceptAll(got).count() == 0
    # the metadata prune is in the plan BELOW the decode (on the blob scan)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "end_ts" in plan and "start_ts" in plan


def test_compact_blobs_byte_identical_to_full_encode(spark):
    """Compaction (decode -> merge -> re-encode) must produce blobs
    byte-identical to encoding the merged series from scratch; new points
    replace stored points at the same bucket."""
    import pandas as pd

    from pyspark.sql import functions as F

    from yatsm_spark.plans.blobs import compact_blobs, decode_blobs, encode_blobs

    base = pd.DataFrame(
        {
            "url": ["u"] * 10,
            "bucket_ts": pd.date_range("2024-03-01", periods=10, freq="D"),
            "value": [float(i) for i in range(10)],
        }
    )
    blobs = encode_blobs(spark.createDataFrame(base), "1d", value_col="value")
    new = pd.DataFrame(
        {
            "url": ["u"] * 5,
            "bucket_ts": pd.date_range("2024-03-08", periods=5, freq="D"),
            "value": [100.0 + i for i in range(5)],
        }
    )
    compacted = compact_blobs(blobs, spark.createDataFrame(new), "1d")
    # expected: days 1-7 original, days 8-12 replaced/appended
    exp_pdf = pd.DataFrame(
        {
            "url": ["u"] * 12,
            "bucket_ts": pd.date_range("2024-03-01", periods=12, freq="D"),
            "value": [float(i) for i in range(7)] + [100.0 + i for i in range(5)],
        }
    )
    exp_blobs = encode_blobs(spark.createDataFrame(exp_pdf), "1d", value_col="value")
    got = compacted.select("url", "ts_blob", "val_blob", "n_points").first()
    exp = exp_blobs.select("url", "ts_blob", "val_blob", "n_points").first()
    assert got["n_points"] == 12
    assert bytes(got["ts_blob"]) == bytes(exp["ts_blob"])
    assert bytes(got["val_blob"]) == bytes(exp["val_blob"])
    # and the decoded series is the merged truth
    pts = decode_blobs(compacted).orderBy("bucket_ts").collect()
    assert [r["value"] for r in pts] == exp_pdf["value"].tolist()


def test_tier_blobs_lossless_archive_cascades_exactly(spark):
    """The multi-stat blob archive is LOSSLESS: decoding reconstructs every
    re-aggregable stat bit-exactly, and a 1d cascade computed FROM THE
    ARCHIVE equals the cascade from the live tier — the blob store can
    replace the tier parquet."""
    from pyspark.sql import functions as F

    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.rollup import cascade, rollup, series_clean
    from yatsm_spark.plans.blobs import decode_tier_blobs, encode_tier_blobs

    stats = ("cnt", "sum_len", "min_len", "max_len", "sum_ts")  # the default set
    tier = rollup(series_clean(generate_crawl(spark, n_urls=10, span_days=25)), "1h")
    blobs = encode_tier_blobs(tier, "1h")  # defaults must archive all of the above
    decoded = decode_tier_blobs(blobs, stats)

    # 1) bit-exact stat roundtrip
    orig = tier.select(
        "url", "bucket_ts", *[F.col(c).cast("double").alias(c) for c in stats]
    )
    got = decoded.select("url", "bucket_ts", *stats)
    assert got.exceptAll(orig).count() + orig.exceptAll(got).count() == 0

    # 2) cascade-from-archive == cascade-from-live-tier
    from_archive = (
        decoded.select(
            "url", "bucket_ts",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sum_len").cast("long").alias("sum_len"),
            F.col("min_len").cast("long").alias("min_len"),
            F.col("max_len").cast("long").alias("max_len"),
        )
        .groupBy("url", F.date_trunc("day", "bucket_ts").alias("bucket_ts"))
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_len").alias("sum_len"),
             F.min("min_len").alias("min_len"), F.max("max_len").alias("max_len"))
    )
    live = cascade(tier, "1d").select("url", "bucket_ts", "cnt", "sum_len", "min_len", "max_len")
    assert from_archive.exceptAll(live).count() + live.exceptAll(from_archive).count() == 0


def test_archive_job_empty_selection_archives_zero_points(monkeypatch, tmp_path, spark, capsys):
    """An --older-than before every bucket selects no rows: the archiver
    must exit normally and report 0 points for both archives."""
    import importlib.util
    import sys
    from pathlib import Path

    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.rollup import rollup, series_clean

    tier_dir = str(tmp_path / "t1d")
    rollup(series_clean(generate_crawl(spark, n_urls=5, span_days=10)), "1d").write.parquet(tier_dir)

    path = Path(__file__).resolve().parent.parent / "jobs" / "archive.py"
    spec = importlib.util.spec_from_file_location("archive_job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    class KeptSession:
        """The shared test session, with main()'s closing stop() ignored."""

        def __getattr__(self, name):
            return getattr(spark, name)

        def stop(self):
            pass

    monkeypatch.setattr(job, "get_spark", lambda *a, **k: KeptSession())
    monkeypatch.setattr(sys, "argv", [
        "archive.py", "--tier-dir", tier_dir, "--tier", "1d",
        "--output", str(tmp_path / "out"), "--older-than", "2000-01-01",
    ])
    job.main()
    out = capsys.readouterr().out
    assert "stat_blobs: 0 blob rows / 0 points" in out
    assert "lang_blobs: 0 blob rows / 0 points" in out


def test_lang_blobs_reconstruct_30d_lang_dist_after_age_out(tmp_path, spark):
    """The lang_dist companion archive closes the last age-out gap: with
    the 1h tier parquet DELETED, the 30d lang distribution rebuilt from
    the (url, lang) count blobs alone equals the live 30d cascade's map —
    entry-for-entry (maps compare via sorted entries)."""
    from pyspark.sql import functions as F

    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.rollup import cascade, rollup, series_clean
    from yatsm_spark.plans.blobs import decode_lang_blobs, encode_lang_blobs

    tier = rollup(series_clean(generate_crawl(spark, n_urls=10, span_days=40)), "1h")
    tier_dir = str(tmp_path / "t1h")
    blob_dir = str(tmp_path / "lang_blobs")
    tier.write.parquet(tier_dir)
    tier_on_disk = spark.read.parquet(tier_dir)

    # live expectation BEFORE age-out: 1h -> 1d -> 30d map
    live = (
        cascade(cascade(tier_on_disk, "1d"), "30d")
        .select("url", "bucket_ts", F.array_sort(F.map_entries("lang_dist")).alias("ld"))
        .collect()
    )
    encode_lang_blobs(tier_on_disk, "1h").write.parquet(blob_dir)

    # age out the tier parquet entirely
    import shutil

    shutil.rmtree(tier_dir)

    decoded = decode_lang_blobs(spark.read.parquet(blob_dir))
    rebuilt = (
        decoded.groupBy(
            "url",
            F.timestamp_seconds(
                (F.floor(F.unix_timestamp("bucket_ts") / 2592000) * 2592000).cast("bigint")
            ).alias("bucket_ts"),
            "lang",
        )
        .agg(F.sum(F.col("cnt").cast("long")).alias("cnt"))
        .groupBy("url", "bucket_ts")
        .agg(
            F.array_sort(F.collect_list(F.struct("lang", "cnt"))).alias("entries")
        )
        .select(
            "url", "bucket_ts",
            F.array_sort(
                F.map_entries(F.map_from_entries("entries"))
            ).alias("ld"),
        )
        .collect()
    )
    key = lambda r: (r["url"], r["bucket_ts"])  # noqa: E731
    live_m = {key(r): r["ld"] for r in live}
    got_m = {key(r): r["ld"] for r in rebuilt}
    assert live_m == got_m and len(live_m) > 0
