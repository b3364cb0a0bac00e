"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001 (hourly rollup -> gap-fill ->
LOCF over the events series table).
``queries()`` — one entry per implemented operator from SURVEY.md §2 plus the
training-data-pipeline ops (dedup / similarity / text analysis).
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query;
deterministic CCDC-kernel queries use golden-table oracles (committed
fixture parquet = expected output, scripts/make_golden_fixtures.py).

Cross-engine parity rules used throughout (verified this session):
  * buckets = epoch-floor + timestamp_seconds (Spark) == make_timestamp
    (DuckDB) — avoids DuckDB date_trunc('day') returning DATE;
  * portable hash = conv(substr(md5(x),1,8),16,10) (Spark)
    == ('0x'||substr(md5(x),1,8))::BIGINT (DuckDB);
  * every float aggregated/derived column rounded to a fixed precision in
    BOTH engines; round-half-away semantics match;
  * identical aliases both sides (driver sorts columns by name before
    hashing).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yatsm_spark.functions.textops import (  # noqa: E402
    fingerprint,
    lang_id_score,
    token_stats,
)
from yatsm_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs  # noqa: E402
from yatsm_spark.operators.dedup import simhash_docs  # noqa: E402
from yatsm_spark.operators.series import (  # noqa: E402
    asof_prev_event,
    cascade_series,
    gap_fill_series,
    locf_series,
    rollup_series,
    sessionize,
    top_k_keys,
    window_deltas,
)
from yatsm_spark.operators.similarity import brute_topk  # noqa: E402

PI = 3.141592653589793
PERIOD = 365.25


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r(col, p: int = 4) -> F.Column:
    """round + (-0.0 -> 0.0) normalization — DuckDB twin: round(x, p) + 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, p) + F.lit(0.0)


def _finish_tier(df: DataFrame) -> DataFrame:
    """Normalize a rollup/cascade tier for hashing: round the sum FIRST,
    then derive the mean from the ROUNDED sum — a mean derived from the raw
    sum can round differently across engines when the raw sums differ in
    their last ulp (summation order) right at a rounding boundary."""
    return (
        df.withColumn("sum_val", _r("sum_val"))
        .withColumn("mean_val", _r(F.col("sum_val") / F.col("cnt")))
        .withColumn("min_val", _r("min_val"))
        .withColumn("max_val", _r("max_val"))
    )


# --------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events-as-series -> 1h rollup -> gap-fill -> LOCF."""
    ev = _t(spark, "/root/testdata/sf0.001", "events")
    tier = rollup_series(ev, "1h", ("user_id",), "ts", "value")
    filled = gap_fill_series(tier, "1h", ("user_id",))
    return locf_series(filled, ("mean_val",), ("user_id",)).select(
        "user_id", "bucket_ts", "cnt", "gap_filled", F.round("mean_val_locf", 4).alias("mean_val_locf")
    )


# --------------------------------------------------------------- queries


def _q_rollup_1h(spark, sf):
    df = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    return _finish_tier(df)


def _q_cascade_1d(spark, sf):
    h1 = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    return _finish_tier(cascade_series(h1, "1d", ("user_id",)))


def _q_cascade_30d(spark, sf):
    h1 = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    d1 = cascade_series(h1, "1d", ("user_id",))
    return _finish_tier(cascade_series(d1, "30d", ("user_id",)))


def _q_retention_1h(spark, sf):
    """Retention enforcement on the finest tier: keep the trailing 7 days
    (data-anchored at the tier's max bucket).  At scale the same predicate
    on p_day is a metadata-only partition drop."""
    from yatsm_spark.operators.rollup import apply_retention

    tier = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    return _finish_tier(apply_retention(tier, "7 days"))


def _q_incr_merge_1h(spark, sf):
    """Incremental-maintenance algebra, oracle-gated: two partial rollups
    split MID-BUCKET are merged (cnt/sum add, min/max combine, mean
    re-derives) — the oracle is the one-shot full rollup of the same
    values, so the hash check proves merge(rollup(old), rollup(delta)) ==
    rollup(all).  The gate runs on INTEGER-scaled values (x1e4): integer
    sums are order-exact below 2^53, so the merge is genuinely
    associative — float partial sums are only associative-up-to-ulp and
    could flip the 4-dp rounding on near-half values; the mean uses the
    (2s+c) div (2c) integer round-half-up, immune to engine-specific
    float rounding of exact halves."""
    ev = _t(spark, sf, "events").withColumn(
        "iv", F.round(F.col("value") * 10000).cast("long")
    )
    cut = F.lit("2024-01-15 09:30:00").cast("timestamp")
    t_old = rollup_series(ev.filter(F.col("ts") < cut), "1h", ("user_id",), "ts", "iv")
    t_new = rollup_series(ev.filter(F.col("ts") >= cut), "1h", ("user_id",), "ts", "iv")
    merged = (
        t_old.unionByName(t_new)
        .groupBy("user_id", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
    )
    return merged.select(
        "user_id",
        "bucket_ts",
        "cnt",
        F.col("sum_val").cast("long").alias("sum_x1e4"),
        F.expr("(2 * CAST(sum_val AS BIGINT) + cnt) div (2 * cnt)").alias("mean_x1e4"),
        F.col("min_val").cast("long").alias("min_x1e4"),
        F.col("max_val").cast("long").alias("max_x1e4"),
    )


def _q_stitch_range(spark, sf):
    """Tier-stitched range read, oracle-gated end to end: the range
    [2024-01-03 07:00, 2024-01-27 19:00) is answered from the 1d tier
    for the fully-contained interior days plus 1h tier rows for the two
    ragged edges (rollup.stitch_range), then aggregated per user.  The
    oracle aggregates the RAW events in the same range, so a green row
    proves the stitch boundary algebra (ceil/floor day alignment, edge
    half-open intervals) exact — the continuous-aggregate query path
    every tiered TSDB serves reads from."""
    from yatsm_spark.operators.rollup import stitch_range

    ev = _t(spark, sf, "events").withColumn(
        "iv", F.round(F.col("value") * 10000).cast("long")
    )
    t1h = rollup_series(ev, "1h", ("user_id",), "ts", "iv")
    t1d = cascade_series(t1h, "1d", ("user_id",))
    t0, t1 = 1704265200, 1706382000  # 2024-01-03 07:00 .. 2024-01-27 19:00
    rows = stitch_range(t1h, t1d, t0, t1, 3600, 86400, keys=("user_id",))
    return rows.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("cnt"),
        F.sum("sum_val").cast("bigint").alias("sum_x1e4"),
        F.min("min_val").cast("bigint").alias("min_x1e4"),
        F.max("max_val").cast("bigint").alias("max_x1e4"),
    )


def _q_gap_fill_1h(spark, sf):
    tier = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    return gap_fill_series(tier, "1h", ("user_id",)).select(
        "user_id", "bucket_ts", "cnt", "gap_filled"
    )


def _q_locf_1h(spark, sf):
    tier = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    # rounded-sum-derived mean BEFORE the carry so engines agree bit-for-bit
    tier = tier.withColumn("mean_val", _r(_r("sum_val") / F.col("cnt")))
    filled = gap_fill_series(tier, "1h", ("user_id",))
    return locf_series(filled, ("mean_val",), ("user_id",)).select(
        "user_id",
        "bucket_ts",
        "gap_filled",
        F.col("mean_val_locf").alias("locf_mean"),
    )


def _q_interp_linear_1h(spark, sf):
    """Linear-interpolation gap fill over the 1h tier — LOCF's companion
    value policy: gap buckets get the floor-exact integer time-weighted
    blend of their observed neighbors; edge gaps stay NULL."""
    from yatsm_spark.operators.series import gap_fill_series, interpolate_series

    tier = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    # rounded-sum-derived mean BEFORE the blend so engines agree bit-for-bit
    tier = tier.withColumn("mean_val", _r(_r("sum_val") / F.col("cnt")))
    filled = gap_fill_series(tier, "1h", ("user_id",))
    return interpolate_series(filled, "mean_val", ("user_id",)).select(
        "user_id", "bucket_ts", "gap_filled",
        F.col("mean_val_interp_u").alias("interp_u"),
    )


def _q_m4_daily(spark, sf):
    """M4 downsample per (user, day): the first/min/max/last POINTS (value
    AND timestamp) — the VLDB-2014 error-free line-rendering reduction."""
    from yatsm_spark.operators.series import m4_downsample

    return m4_downsample(_t(spark, sf, "events"), "1d", ("user_id",), "ts", "value")


def _q_docs_chunk_windows(spark, sf):
    """Token-window document chunking (size 64, stride 48): overlapping
    model-ready context windows, fully map-side; md5(chunk_text) keeps the
    compare payload slim while still pinning every byte of every chunk."""
    from yatsm_spark.functions.textops import chunk_documents

    ch = chunk_documents(_t(spark, sf, "documents"), size=64, stride=48)
    return ch.select(
        "doc_id", "chunk_id", "start_tok", "chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def _q_docs_c4_filter(spark, sf):
    """C4-style line-level cleaning (Raffel et al. 2020): per-line terminal
    punctuation / min-words / no-javascript survival, page-level lorem-ipsum
    + curly-brace + min-lines verdict; md5 pins the cleaned text bytes."""
    from yatsm_spark.functions.textops import c4_line_stats

    return _t(spark, sf, "documents").select(
        "doc_id", *c4_line_stats("text")
    ).select(
        "doc_id", F.md5("clean_text").alias("clean_md5"),
        "n_lines", "n_lines_kept", "c4_keep",
    )


def _q_ohlc_daily(spark, sf):
    """OHLC candlestick rollup per (user, day): open/close via struct
    min/max over (ts, value) — deterministic under duplicate timestamps."""
    from yatsm_spark.operators.series import ohlc_series

    out = ohlc_series(_t(spark, sf, "events"), "1d", ("user_id",), "ts", "value")
    return out.select(
        "user_id", "bucket_ts",
        _r("open").alias("open"), _r("high").alias("high"),
        _r("low").alias("low"), _r("close").alias("close"), "cnt",
    )


def _q_percentile_daily(spark, sf):
    """Exact interpolated percentiles per (user, day) — the quantile
    continuous-aggregate.  Exact `F.percentile` is a sort-based aggregate
    (right for tier-sized groups); the 100 TB path for corpus-wide
    quantiles is `approx_percentile` (GK sketch, mergeable map-side), kept
    out of the oracle because sketches aren't cross-engine-reproducible."""
    ev = _t(spark, sf, "events")
    day = F.timestamp_seconds(
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("bigint")
    ).alias("bucket_ts")
    return ev.groupBy("user_id", day).agg(
        _r(F.percentile("value", 0.5)).alias("p50"),
        _r(F.percentile("value", 0.95)).alias("p95"),
        F.count("*").alias("cnt"),
    )


def _q_sliding_24h(spark, sf):
    """Trailing 24h moving average over the 1h tier (time-range frame:
    gaps shrink the window population rather than stretching its span)."""
    from yatsm_spark.operators.series import sliding_mean

    tier = rollup_series(_t(spark, sf, "events"), "1h", ("user_id",), "ts", "value")
    # window aggregation association order differs across engines (DuckDB
    # uses a segment tree), so floats can flip the 4th decimal.  Scale the
    # (already 4dp-rounded) means to exact integers first: integer sums
    # are order-exact in doubles below 2^53, so both engines agree bitwise.
    tier = tier.withColumn("mean_val", _r(_r("sum_val") / F.col("cnt")))
    tier = tier.withColumn("iv", F.round(F.col("mean_val") * 10000).cast("long"))
    out = sliding_mean(
        tier, 86400, ("user_id",), "bucket_ts", "iv", "avg_iv", exact=True
    )
    # integer round-half-up of sum/cnt: (2*sum + cnt) div (2*cnt) — exact
    # integer arithmetic both engines, immune to float-rounding half cases
    return out.select(
        "user_id",
        "bucket_ts",
        F.expr("(2 * sum_iv + n_win) div (2 * n_win)").alias("avg24h_x1e4"),
        F.col("n_win"),
    )


def _q_sessionize(spark, sf):
    s = sessionize(_t(spark, sf, "events"), 1800, ("user_id",), "ts")
    return s.groupBy("user_id").agg(F.max("session_id").alias("n_sessions"))


def _q_window_deltas(spark, sf):
    df = window_deltas(_t(spark, sf, "events"), ("user_id",), "ts", "value")
    return df.select(
        "user_id", "ts", "rn", _r("value").alias("value"), _r("delta").alias("delta")
    )


def _q_asof_prev_purchase(spark, sf):
    ev = _t(spark, sf, "events")
    df = asof_prev_event(
        ev, F.col("event_type") == "purchase", ("user_id",), "ts", "prev_purchase_ts"
    )
    return df.select("event_id", "prev_purchase_ts")


def _q_asof_nearest(spark, sf):
    """Nearest as-of with tolerance: for each event, the closest purchase
    of the same user within 2h, either direction (tie -> earlier)."""
    from yatsm_spark.operators.series import asof_nearest_event

    ev = _t(spark, sf, "events")
    out = asof_nearest_event(
        ev, F.col("event_type") == "purchase", ("user_id",), "ts",
        "nearest_purchase_ts", tolerance_sec=7200, tiebreak_cols=("event_id",),
    )
    return out.select("event_id", "nearest_purchase_ts")


def _q_topk_users(spark, sf):
    return top_k_keys(_t(spark, sf, "events"), 10, ("user_id",))


def _q_event_type_daily(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_val"))
    )


def _q_grouping_rollup(spark, sf):
    return (
        _t(spark, sf, "events")
        .rollup("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_val"))
        .select(F.coalesce("event_type", F.lit("(all)")).alias("event_type"), "cnt", "sum_val")
    )


def _q_distinct_users(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _q_anti_join(spark, sf):
    # orders with NO high-quantity lineitem (predicate chosen so the result
    # is non-empty at every sf — an empty anti-join proves nothing)
    orders = _t(spark, sf, "orders")
    hi = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_quantity") >= 30)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(hi, "o_orderkey", "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


def _q_semi_join(spark, sf):
    li = _t(spark, sf, "lineitem")
    big = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 450000).select("o_orderkey")
    return (
        li.join(big, li.l_orderkey == big.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


def _q_bcast_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    sup = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region")
    dims = F.broadcast(
        sup.join(nat, sup.s_nationkey == nat.n_nationkey).join(
            reg, nat.n_regionkey == reg.r_regionkey
        )
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


def _q_except_viewers(spark, sf):
    # users active on the first day but not the last day (non-empty by
    # construction: ~2 events/user/day so day-absence is common)
    ev = _t(spark, sf, "events")
    bounds = ev.select(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    first = ev.join(F.broadcast(bounds), F.to_date("ts") == F.col("d0")).select("user_id").distinct()
    last = ev.join(F.broadcast(bounds), F.to_date("ts") == F.col("d1")).select("user_id").distinct()
    return first.exceptAll(last)


def _q_harmonic_projection(spark, sf):
    ev = _t(spark, sf, "events")
    t_days = F.unix_timestamp("ts") / 86400.0
    w = 2 * PI / PERIOD
    return ev.select(
        "event_id",
        _r(t_days, 6).alias("t_days"),
        _r(F.cos(F.lit(w) * t_days)).alias("cos1"),
        _r(F.sin(F.lit(w) * t_days)).alias("sin1"),
    )


def _q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.sum("l_quantity") / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum("l_discount") / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q_docs_lang_dist(spark, sf):
    return (
        _t(spark, sf, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("sum_chars"))
    )


def _q_docs_quality(spark, sf):
    return _t(spark, sf, "documents").select("doc_id", *token_stats("text"))


def _q_docs_lang_id(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", lang_id_score("text").alias("lang_guess")
    )


def _q_docs_exact_dedup(spark, sf):
    return exact_dedup(_t(spark, sf, "documents"))


def _q_docs_fingerprint(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id", fingerprint("text").alias("fp"), F.length("text").alias("text_len")
    )


def _q_docs_jaccard(spark, sf):
    # max_shingle_freq ARMS the skew guard on the flagship path: a shingle
    # appearing in >128 docs is stopword-grade and would otherwise dominate
    # the shingle self-join shuffle (10^6 docs sharing one shingle = 10^12
    # candidate pairs).  The oracle mirrors the same frequency filter.
    return ngram_jaccard_pairs(
        _t(spark, sf, "documents"), k=3, threshold=0.1, max_shingle_freq=128
    )


def _q_docs_minhash(spark, sf):
    from yatsm_spark.operators.dedup import minhash_signatures

    sig = minhash_signatures(_t(spark, sf, "documents"), n_hashes=16, k=3)
    return sig.select(
        F.col("id").alias("doc_id"), F.posexplode("sig").alias("i", "sig_val")
    ).select("doc_id", F.col("i").cast("bigint").alias("i"), "sig_val")


def _q_docs_simhash(spark, sf):
    return simhash_docs(_t(spark, sf, "documents"), bits=32)


def _q_simhash_neardup(spark, sf):
    """SimHash near-dup pairs (Manku WWW 2007 form): pigeonhole banding
    (LOSSLESS for hamming <= k < bands) + exact bit_count(xor) verify —
    HASH-CHECKED against a brute-force all-pairs DuckDB twin, proving
    the banded candidate set misses nothing."""
    from yatsm_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _t(spark, sf, "documents"), bits=32, bands=4, max_hamming=3
    )


def _q_emb_norms(spark, sf):
    emb = _t(spark, sf, "embeddings")
    dot = F.aggregate(
        F.zip_with("embedding", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return emb.select("vec_id", F.round(F.sqrt(dot), 4).alias("l2"))


def _q_emb_ann(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return brute_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def _q_emb_neardup(spark, sf):
    from yatsm_spark.operators.similarity import cosine_neardup_pairs

    return cosine_neardup_pairs(_t(spark, sf, "embeddings"), threshold=0.4)


def _q_emb_neardup_lsh(spark, sf):
    """The SCALE near-dup path: hyperplane-LSH bucketed candidates,
    exact-scored.  Every emitted pair is verified with the exact cosine, so
    the result is a deterministic subset of emb_cosine_neardup; the oracle
    reproduces the bucket pipeline from the same hyperplane literals."""
    from yatsm_spark.operators.similarity import lsh_neardup_pairs

    # 4 planes x 4 tables: ~50% recall at sim 0.4 (p_plane = 1 - θ/π =
    # 0.63 -> 1-(1-0.63^4)^4).  Production near-dup thresholds (>=0.9)
    # support more planes (smaller buckets) at the same recall.
    return lsh_neardup_pairs(
        _t(spark, sf, "embeddings"), dim=64, threshold=0.4, n_planes=4, n_tables=4
    )


def _q_emb_semantic_dedup(spark, sf):
    """SemDeDup-style embedding dedup: IVF-cell-bucketed, drop any vector
    with a lower-id within-cell neighbor at cosine >= 0.4 (the testdata's
    near-dup band — production corpora run ~0.9).  Output keeps EVERY
    input row with its cell and kept/dropped flag (lineage-first)."""
    from yatsm_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf, "embeddings"), threshold=0.4, n_cells=16)


def _q_counter_increase_1h(spark, sf):
    """Prometheus-semantics increase() per (user, hour) with counter-reset
    detection, integer micro-units end-to-end (sums associative-exact, so
    the result is partitioning- and engine-invariant)."""
    from yatsm_spark.operators.series import counter_increase

    return counter_increase(
        _t(spark, sf, "events"), tier="1h", order_tiebreak="event_id"
    )


def _q_jsonl_ingest(spark, sf):
    """JSONL ingest contract: schema-enforced parse + corrupt-record
    quarantine, every row surviving.  Lines are built from `documents`
    via to_json and every doc_id % 97 == 0 line is byte-corrupted, so the
    quarantine path does real work; doc_id rides as the replay
    passthrough column."""
    from pyspark.sql import types as T

    from yatsm_spark.sources.jsonl import parse_json_lines

    schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    lines = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0,
            F.concat(F.lit("{"), F.to_json(F.struct("lang", "n_chars"))),
        )
        .otherwise(F.to_json(F.struct("lang", "n_chars")))
        .alias("line"),
    )
    return parse_json_lines(lines, "line", schema, keep_cols=("doc_id",)).select(
        "doc_id", "lang", "n_chars", "corrupt"
    )


def _q_docs_nb_lang(spark, sf):
    """Multinomial Naive Bayes train + score as pure aggregations: train on
    doc_id % 5 != 0 with `lang` as the label, argmax-score the held-out
    fifth.  Testdata langs are synthetic (uncorrelated with text), so the
    PREDICTIONS carry no skill — what the oracle pins is that one-pass
    distributed training and integer-micro-nat scoring are engine- and
    partitioning-exact end-to-end."""
    from yatsm_spark.operators.textclass import nb_predict, nb_train

    docs = _t(spark, sf, "documents")
    weights, labels = nb_train(docs.filter(F.col("doc_id") % 5 != 0), label_col="lang")
    return nb_predict(docs.filter(F.col("doc_id") % 5 == 0), weights, labels)


def _q_docs_lm_score(spark, sf):
    """Bigram-LM perplexity scoring (CCNet quality gate): train the add-one
    bigram model on doc_id % 5 != 0, score the held-out fifth.  Exact
    integer micro-nat sums, so the oracle pins one-pass distributed
    training + broadcast-probe scoring end-to-end (operators/lm.py)."""
    from yatsm_spark.operators.lm import lm_score, lm_train

    docs = _t(spark, sf, "documents")
    weights, prev_stats = lm_train(docs.filter(F.col("doc_id") % 5 != 0))
    return lm_score(docs.filter(F.col("doc_id") % 5 == 0), weights, prev_stats)


def _q_docs_dsir_score(spark, sf):
    """DSIR importance scoring (Xie et al. 2023): fit hashed-{1,2}-gram
    multinomials on target = doc_id % 7 == 0 vs raw = the rest, score the
    raw side.  Integer micro-nat bucket log-ratios make the per-doc sums
    engine/partitioning-exact (operators/dsir.py)."""
    from yatsm_spark.operators.dsir import dsir_fit, dsir_score

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    lam = dsir_fit(target, raw, n_buckets=65536)
    return dsir_score(raw, lam, n_buckets=65536)


def _q_docs_hash_split(spark, sf):
    """Deterministic train/val/test split + 10%-sample membership by
    content hash — partition- and cluster-size-invariant (df.sample()'s
    rand() is neither), and engine-reproducible via the portable hash."""
    from yatsm_spark.functions.textops import hash_bucket_pct, hash_split

    docs = _t(spark, sf, "documents")
    out = hash_split(docs, "doc_id", train_pct=80, val_pct=10)
    return out.select(
        "doc_id", "split", (hash_bucket_pct("doc_id") < 10).alias("in_10pct_sample")
    )


def _q_url_canonicalize(spark, sf):
    """URL canonicalization over synthesized raw variants (built from
    customer keys so the oracle constructs the identical inputs): case,
    default ports, param order, tracking params, and fragments all
    normalize away."""
    from yatsm_spark.functions.textops import canonicalize_url

    c = _t(spark, sf, "customer")
    raw = (
        F.when(
            F.col("c_custkey") % 7 == 0,
            # schemeless: must pass through unchanged (the guard contract)
            F.concat(F.lit("shop.example.com/c/"), F.col("c_custkey")),
        )
        .when(
            F.col("c_custkey") % 2 == 0,
            F.concat(F.lit("HTTPS://Shop.Example.COM:443/c/"), F.col("c_custkey"),
                     F.lit("?utm_src=news&b=2&a=1#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://shop.example.com:80/c/"), F.col("c_custkey"),
                     F.lit("?a=1&b=2")),
        )
    )
    return c.select(
        "c_custkey", canonicalize_url(raw).alias("canon_url")
    )


def _q_docs_token_regex(spark, sf):
    # BPE-ish token families counted with regexp (JVM regexp_count):
    # alpha runs, digit runs, non-alnum marks — plus whitespace tokens
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_alpha_runs"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_digit_runs"),
        F.regexp_count("text", F.lit("[^a-z0-9 ]")).alias("n_marks"),
    )


def _q_docs_winnow_fp(spark, sf):
    # rolling-hash document fingerprint: min portable hash over character
    # 5-grams (winnowing's global-min special case) — content-locality-
    # sensitive unlike md5-of-whole-text
    docs = _t(spark, sf, "documents")
    toks = F.expr(
        "CASE WHEN length(text) >= 5 THEN "
        "transform(sequence(0, length(text)-5), i -> substring(text, i+1, 5)) "
        "ELSE array() END"
    )
    from yatsm_spark.functions.textops import portable_hash64

    grams = docs.select("doc_id", F.explode(toks).alias("g"))
    return (
        grams.select("doc_id", portable_hash64(F.col("g")).alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("winnow_fp"))
    )


def _q_codec_roundtrip(spark, sf):
    """K11 round-trip as an ORACLE-CHECKED query: encode each user's hourly
    tier into delta-of-delta + Gorilla blobs, decode, and verify bit-exact
    equality per point.  The oracle predicts (n_points, all_match=true), so
    any codec corruption shows up as a value-hash mismatch."""
    from yatsm_spark.plans.blobs import decode_blobs, encode_blobs

    tier = rollup_series(
        _t(spark, sf, "events"), "1h", ("user_id",), "ts", "value"
    ).withColumn("url", F.col("user_id").cast("string"))
    blobs = encode_blobs(tier, "1h", ts_col="bucket_ts", value_col="mean_val")
    pts = decode_blobs(blobs)
    orig = tier.select("url", "bucket_ts", F.col("mean_val").alias("orig"))
    joined = pts.join(orig, ["url", "bucket_ts"], "left")
    return (
        joined.groupBy("url")
        .agg(
            F.count("*").alias("n_points"),
            (
                F.sum(F.when(F.col("value") == F.col("orig"), 1).otherwise(0))
                == F.count("*")
            ).alias("all_match"),
        )
        .select(F.col("url").cast("bigint").alias("user_id"), "n_points", "all_match")
    )


def _q_blob_range_read(spark, sf):
    """TSDB range-read path: encode each user's hourly tier, range-query
    the blob store with metadata pruning (read_blob_range), and verify the
    decoded points bit-match the tier restricted to the range.  The oracle
    predicts (user_id, n_points, all_match=true) for the window, so a
    pruning bug (missing/extra blobs) or codec drift flips the hash."""
    from yatsm_spark.plans.blobs import encode_blobs, read_blob_range

    tier = rollup_series(
        _t(spark, sf, "events"), "1h", ("user_id",), "ts", "value"
    ).withColumn("url", F.col("user_id").cast("string"))
    blobs = encode_blobs(tier, "1h", ts_col="bucket_ts", value_col="mean_val")
    t0, t1 = "2024-01-08 00:00:00", "2024-01-14 23:59:59"
    pts = read_blob_range(blobs, t0, t1)
    orig = tier.filter(F.col("bucket_ts").between(F.lit(t0), F.lit(t1))).select(
        "url", "bucket_ts", F.col("mean_val").alias("orig")
    )
    joined = pts.join(orig, ["url", "bucket_ts"], "full")
    return (
        joined.groupBy("url")
        .agg(
            F.count("*").alias("n_points"),
            (
                F.sum(F.when(F.col("value") == F.col("orig"), 1).otherwise(0))
                == F.count("*")
            ).alias("all_match"),
        )
        .select(F.col("url").cast("bigint").alias("user_id"), "n_points", "all_match")
    )


def _q_salted_stats(spark, sf):
    """Two-stage salted aggregation (skew defeat) — oracle = plain GROUP
    BY, so the check proves salting is result-invariant."""
    from yatsm_spark.operators.salt import salted_agg

    ev = _t(spark, sf, "events")
    hot = ev.groupBy("event_type").count().filter(F.col("count") > 500).select("event_type")
    out = salted_agg(
        ev,
        ["event_type"],
        stage1_aggs=[F.count("*").alias("c"), F.sum("value").alias("s"),
                     F.min("value").alias("mn"), F.max("value").alias("mx")],
        stage2_aggs=[F.sum("c").alias("cnt"), F.round(F.sum("s"), 4).alias("sum_val"),
                     F.round(F.min("mn"), 4).alias("min_val"), F.round(F.max("mx"), 4).alias("max_val")],
        hot=hot,
        salt_cols=["event_type", "event_id"],
        n_salts=8,
    )
    return out


def _q_minhash_lsh_pairs(spark, sf):
    """MinHash+LSH banding candidate pairs — HASH-CHECKED: the banding is
    a pure function of the (already-oracled) signatures, so the DuckDB
    oracle re-derives signatures, band keys, collisions, and the exact
    signature-agreement fraction."""
    from yatsm_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf, "documents"), n_hashes=16, bands=4, k=3)


def _q_minhash_lsh_guarded(spark, sf):
    """The hot-bucket STAR-GUARD path of minhash_lsh_pairs — HASH-CHECKED.
    max_bucket=2 forces the guard to fire on the sf tables (largest real
    bucket is 3 members): oversized buckets emit min-id-root star edges,
    small buckets keep exact all-pairs.  The DuckDB oracle re-derives the
    full split — bucket populations, roots, star vs all-pairs branches —
    from the oracled signatures."""
    from yatsm_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf, "documents"), n_hashes=16, bands=4, k=3, max_bucket=2
    )


def _q_docs_content_drift(spark, sf):
    """Per-key CONTENT change-points (SimHash Hamming lag) — HASH-CHECKED.
    The documents table is folded into 40 synthetic url series (url_id =
    doc_id % 40, ordered by doc_id); the DuckDB twin re-derives the
    (already-oracled) 32-bit simhash, lags it per series, and applies the
    same bit_count(xor) >= 6 rule with the K6-style consecutive=2
    run-length confirmation (drift only when TWO successive transitions
    exceed — one-off flaps stay unflagged)."""
    from yatsm_spark.operators.series import content_drift

    docs = _t(spark, sf, "documents").select(
        F.pmod("doc_id", F.lit(40)).alias("url_id"), "doc_id", "text"
    )
    return content_drift(
        docs, bits=32, threshold=6, key_col="url_id", order_col="doc_id",
        consecutive=2,
    )


def _pii_augmented_text() -> F.Column:
    """Deterministic PII injection for the redaction query: the synthetic
    corpus has no emails/IPs, so both engines append the SAME derived
    spans (email for doc_id%3==0, IPv4 for %4==0, a second email for
    %10==0) — counts then vary 0-2 per doc and the redacted fingerprint
    proves span-exact replacement."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"),
                     F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" from host "), (did % 250).cast("string"),
                     F.lit(".16."), (did % 100).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(did % 10 == 0, F.lit(" cc admin@example.org")).otherwise(F.lit("")),
    )


def _q_docs_pii_redact(spark, sf):
    """Email/IPv4 PII scrub with audit counts + redacted fingerprint —
    map-side regexp chain, no shuffle; patterns restricted to the
    RE2 ∩ java.util.regex common syntax so DuckDB reproduces them."""
    from yatsm_spark.functions.textops import fingerprint, pii_counts, redact_pii

    d = _t(spark, sf, "documents").select("doc_id", _pii_augmented_text().alias("t"))
    return d.select(
        "doc_id",
        *pii_counts("t"),
        fingerprint(redact_pii("t")).alias("redacted_fp"),
    )


def _q_docs_repetition(spark, sf):
    """Gopher-style repetition quality signals — HASH-CHECKED (fractions
    emitted as integer x1e4: cross-engine-exact round-half-up)."""
    from yatsm_spark.operators.quality import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


def _q_docs_decontam(spark, sf):
    """Benchmark decontamination: training docs (doc_id%20 != 0) sharing
    any verbatim word k-gram with the held-out benchmark slice
    (doc_id%20 == 0) — broadcast semi-join probe, HASH-CHECKED.  k=4
    here because the synthetic vocab is ~30 words (collision rate of a
    4-gram ≈ a real corpus 8-gram); the operator default stays 8."""
    from yatsm_spark.operators.quality import decontaminate

    d = _t(spark, sf, "documents")
    return decontaminate(
        d.filter(F.col("doc_id") % 20 != 0), d.filter(F.col("doc_id") % 20 == 0), k=4
    )


def _q_docs_top_quartile(spark, sf):
    """Grouped-percentile corpus filter: keep the top quarter of docs per
    language by distinct-token fraction — HASH-CHECKED (integer rank
    arithmetic: rn*4 <= n, no float percent_rank)."""
    from yatsm_spark.operators.quality import keep_top_fraction, repetition_stats

    d = _t(spark, sf, "documents")
    scored = repetition_stats(d).join(d.select("doc_id", "lang"), "doc_id")
    return keep_top_fraction(
        scored, "distinct_frac_x1e4", by=["lang"], keep_num=1, keep_den=4
    ).select("doc_id", "lang", F.col("distinct_frac_x1e4").alias("score"))


def _q_docs_domain_cap(spark, sf):
    """Per-domain quota: keep the 10 longest docs per source (crawl
    pipelines cap per-host contributions so one site cannot dominate) —
    HASH-CHECKED.  Runs the skew-safe two-phase top-k path; the oracle
    is the plain one-window form, so hash equality also re-proves the
    two forms equal on real data."""
    from yatsm_spark.operators.quality import domain_cap

    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return domain_cap(d, "n_chars", cap=10, domain_col="source")


def _q_docs_pack_budget(spark, sf):
    """Token-budget corpus packing: best docs first (n_chars DESC,
    doc_id) until 15000 whitespace tokens are spent — HASH-CHECKED.
    Runs the histogram-threshold path (no global sort; only the
    boundary score class touches a window); the oracle is the naive
    global running-sum form."""
    from yatsm_spark.operators.quality import pack_token_budget

    d = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            "n_chars",
            F.size(F.split("text", " ")).cast("bigint").alias("w"),
        )
    )
    return pack_token_budget(d, "n_chars", "w", budget=15_000)


def _q_docs_tfidf_terms(spark, sf):
    """Top-3 distinctive terms per doc by integer-exact linear-idf
    tf-idf (term-asc tie-break) — HASH-CHECKED."""
    from yatsm_spark.operators.terms import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf, "documents"), k=3)


def _q_docs_commonness(spark, sf):
    """Mean token document-frequency per doc (integer x1e4) — the
    rank-free unigram-LM quality proxy — HASH-CHECKED."""
    from yatsm_spark.operators.terms import commonness_score

    return commonness_score(_t(spark, sf, "documents"))


def _q_tfidf_cosine(spark, sf):
    """All-pairs sparse TF-IDF cosine similarity (posting-list join,
    Bayardo WWW 2007 family) with quantized-log2 idf and a df cap —
    HASH-CHECKED: the oracle re-derives weights, dots, and norms from
    raw text in HUGEINT.  Terms are HASHED word 3-grams (the documents
    vocab is ~31 unigrams — every unigram is a stopword; same
    small-vocab reasoning as docs_dup_spans), portable tier so the
    oracle replays the polynomial shingle hash bit-for-bit."""
    from yatsm_spark.operators.terms import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf, "documents"), threshold=(1, 2), max_df=150, ngram=3,
        hash_fn="portable",
    )


def _q_docs_collocations(spark, sf):
    """Top bigram collocations by integer-exact PMI ratio (Church &
    Hanks 1990) — HASH-CHECKED: the oracle re-derives unigram/bigram
    counts and the HUGEINT ratio from raw text."""
    from yatsm_spark.operators.terms import collocations

    return collocations(_t(spark, sf, "documents"), min_count=5, topk=50)


def _q_docs_dup_spans(spark, sf):
    """Cross-document verbatim-span stats (train-vs-train k-gram overlap,
    the exact-substring-dedup flag stage) — HASH-CHECKED.  k=4 for the
    same small-vocab reason as docs_decontam."""
    from yatsm_spark.operators.dedup import duplicate_span_stats

    return duplicate_span_stats(_t(spark, sf, "documents"), k=4)


def _q_docs_dup_span_cut(spark, sf):
    """The CUT stage of exact-substring dedup (Lee et al. 2021) —
    HASH-CHECKED: every token covered by a cross-document word 4-gram is
    removed from the text; the DuckDB twin re-derives the string-free
    span hashes, the flagged start positions, and the surviving-token
    reconstruction (text compared by md5)."""
    from yatsm_spark.operators.dedup import cut_duplicate_spans
    from yatsm_spark.functions.textops import fingerprint

    out = cut_duplicate_spans(_t(spark, sf, "documents"), k=4)
    return out.select(
        "doc_id",
        fingerprint("text_cut").alias("cut_fp"),
        "n_tokens_kept",
        "n_tokens_cut",
    )


def _q_neardup_clusters(spark, sf):
    """MinHash-LSH pairs -> connected components -> dedup clusters with a
    deterministic keeper — HASH-CHECKED: the DuckDB oracle re-derives the
    same edges then computes components with a recursive transitive-closure
    CTE (min-label), which this builder verified equals a union-find ground
    truth on the sf0.01 edge set."""
    from yatsm_spark.operators.dedup import minhash_lsh_pairs
    from yatsm_spark.operators.graph import neardup_clusters

    pairs = minhash_lsh_pairs(_t(spark, sf, "documents"), n_hashes=16, bands=4, k=3)
    return neardup_clusters(pairs.filter(F.col("sig_sim") >= 0.5))


def _q_ann_lsh(spark, sf):
    """Hyperplane-LSH bucketed ANN — HASH-CHECKED: approximate vs the
    exact twin emb_ann_topk, but deterministic, and the oracle reproduces
    the bucket pipeline from the same seeded hyperplane literals."""
    from yatsm_spark.operators.similarity import lsh_bucket_topk

    emb = _t(spark, sf, "embeddings")
    return lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5, n_planes=6)


def _q_ann_ivf(spark, sf):
    """IVF-flat ANN (inverted-file cells + n_probe search) — HASH-CHECKED:
    the deterministic coarse quantizer (hash-stratified seed sample) and
    round-before-compare sims make the full pipeline SQL-reproducible."""
    from yatsm_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=16, n_probe=2)


def _media_dims_truth() -> list[tuple[int, str, int | None, int | None]]:
    """The deterministic (doc_id, kind, w, h) set behind media_dims_synth —
    shared by the Spark query (which synthesizes binaries with these dims)
    and the oracle (which states them as literal VALUES ground truth)."""
    rows: list[tuple[int, str, int | None, int | None]] = []
    for i in range(12):
        rows.append((100 + i, "png", 640 + 3 * i, 480 + 2 * i))
        rows.append((200 + i, "gif", 32 + 5 * i, 20 + 7 * i))
        rows.append((300 + i, "bmp", 24 + i, 18 + i))
        rows.append((400 + i, "jpeg", 1280 + 11 * i, 720 + 13 * i))
    for i in range(4):  # round-5: webp, all three container layouts
        rows.append((600 + i, "webp", 320 + 7 * i, 240 + 5 * i))   # VP8
        rows.append((610 + i, "webp", 100 + 11 * i, 80 + 3 * i))   # VP8L
        rows.append((620 + i, "webp", 4000 + i, 3000 + i))         # VP8X
    rows.append((500, "html", None, None))
    rows.append((501, "png", None, None))  # truncated header -> NULL dims
    return rows


def _q_media_dims_synth(spark, sf):  # noqa: ARG001 — synthetic media per north rule
    """Header-only width/height extraction (VERDICT r4 item 7): png/gif/
    bmp dims are pure codegen byte expressions, jpeg dims come from one
    Arrow-batched segment walk over header prefixes only.  The oracle is
    literal ground truth (the dims the binaries were synthesized with),
    so a green row proves the parsers against the format specs, not
    against a fixture of our own output."""
    from yatsm_spark.operators.multimodal import (
        make_bmp,
        make_gif_header,
        make_jpeg_header,
        make_png_header,
        make_webp_header,
        media_dimensions,
        media_metadata,
    )

    mk = {
        "png": lambda w, h, i: make_png_header(w, h),
        "gif": lambda w, h, i: make_gif_header(w, h),
        "bmp": lambda w, h, i: make_bmp(w, h, seed=i),
        "jpeg": lambda w, h, i: make_jpeg_header(
            w, h, n_app_segments=1 + i % 4
        ),
    }
    rows = []
    for did, kind, w, h in _media_dims_truth():
        if did == 500:
            rows.append((did, bytearray(b"<html><body>text row</body></html>")))
        elif did == 501:
            rows.append((did, bytearray(make_png_header(9, 9)[:12])))
        elif kind == "webp":
            layout = ("vp8", "vp8l", "vp8x")[(did - 600) // 10]
            rows.append((did, bytearray(make_webp_header(w, h, layout))))
        else:
            rows.append((did, bytearray(mk[kind](w, h, did % 100))))
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    return media_dimensions(media_metadata(df, "html"), "html").select(
        "doc_id", "media_kind", "img_w", "img_h"
    )


def _q_multimodal_synth(spark, sf):  # noqa: ARG001 — synthetic media per north rule
    """Binary media columns: magic sniffing (real JVM exprs) over synthetic
    crawl html UNIONED with deterministic BMP + baseline-JPEG + PNG +
    GIF images whose decode AND resize are REAL (own T.81/PNG/LZW
    decoders + numpy — no imaging library; functions/jpegcodec.py,
    pngcodec.py, gifcodec.py) — only rows no real decoder handles
    (html) take the documented fake-decoder path.  The resize stage
    contributes the thumbnail md5 and the aHash perceptual near-dup
    key, so the golden hash also pins the pixel-exact resampler, the
    JPEG entropy decoder, the PNG unfilter, and the GIF LZW +
    de-interlace."""
    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.operators.multimodal import (
        decode_image,
        make_bmp,
        make_gif,
        make_jpeg,
        make_png,
        media_metadata,
        resize_image,
    )

    crawl = generate_crawl(spark, n_urls=30, span_days=10).limit(200)
    docs = crawl.select(F.xxhash64("url", "warc_ts").alias("doc_id"), "html")
    bmps = spark.createDataFrame(
        [(int(-1 - i), bytearray(make_bmp(32 + i, 24 + i, seed=i))) for i in range(16)],
        "doc_id long, html binary",
    )
    jpgs = spark.createDataFrame(
        [
            (
                int(-101 - i),
                bytearray(
                    make_jpeg(
                        24 + 3 * i,
                        18 + 2 * i,
                        seed=i,
                        quality=75 + 5 * (i % 5),
                        subsample=(2, 2) if i % 2 else (1, 1),
                        restart_interval=i % 3,
                    )
                ),
            )
            for i in range(8)
        ],
        "doc_id long, html binary",
    )
    pngs = spark.createDataFrame(
        [(int(-201 - i), bytearray(make_png(20 + 2 * i, 14 + i, seed=i))) for i in range(8)],
        "doc_id long, html binary",
    )
    gifs = spark.createDataFrame(
        [
            (int(-301 - i), bytearray(make_gif(18 + 2 * i, 12 + i, seed=i, interlace=bool(i % 2))))
            for i in range(6)
        ],
        "doc_id long, html binary",
    )
    docs = docs.unionByName(bmps).unionByName(jpgs).unionByName(pngs).unionByName(gifs)
    meta = media_metadata(docs, "html").select("doc_id", "media_kind", "media_bytes")
    img = decode_image(docs, "html", fake=True)
    thumbs = resize_image(docs, out_w=16, out_h=16, fake=True).select(
        "doc_id", F.md5("thumb").alias("thumb_md5"), "ahash64"
    )
    return (
        meta.join(img, "doc_id")
        .join(thumbs, "doc_id")
        .select(
            "doc_id", "media_kind", "media_bytes", "width", "height",
            "n_channels", "thumb_md5", "ahash64",
        )
    )


# ---- CCDC kernel queries: rows-only (not SQL-expressible end-to-end).


def _segments_synth(spark, sf):  # noqa: ARG001 — synthetic input per north rule
    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.functions.ccdc import CCDCParams
    from yatsm_spark.operators.rollup import rollup, series_clean
    from yatsm_spark.plans.segmentation import segment_series

    crawl = generate_crawl(spark, n_urls=24, span_days=500)
    tier = rollup(series_clean(crawl, keep_text=False), "1d")
    # the synthetic web signal is weekly (datagen SIGNAL_PERIOD_DAYS=7), so
    # the harmonic period + training span are tuned to it — the reference's
    # annual defaults apply to Landsat phenology, not crawl series
    params = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0)
    return segment_series(tier, params).select(
        "url", "seg_id", "start_ts", "end_ts", "break_ts", "n_obs", "status"
    )


def _classify_synth(spark, sf):  # noqa: ARG001
    """K13 RF classification over synthetic segments (rows-only: model
    training is not SQL-expressible; determinism tested in
    tests/test_classify.py)."""
    from yatsm_spark.plans.classify import classify_segments, train_segment_classifier

    # rebuild segments WITH coef/rmse/magnitude (the synth query above
    # projects them out)
    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.functions.ccdc import CCDCParams
    from yatsm_spark.operators.rollup import rollup, series_clean
    from yatsm_spark.plans.segmentation import segment_series

    crawl = generate_crawl(spark, n_urls=24, span_days=500)
    tier = rollup(series_clean(crawl, keep_text=False), "1d")
    full = segment_series(tier, CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0))
    url_id = F.regexp_extract("url", r"page(\d+)", 1).cast("long")
    labels = full.select("url").distinct().withColumn(
        "label", F.pmod(url_id, F.lit(7)).isin(3, 5).cast("int")
    )
    model = train_segment_classifier(full, labels, n_trees=20, max_depth=5)
    return classify_segments(model, full)


def _changemap_synth(spark, sf):
    from yatsm_spark.operators.changemap import change_summary

    segs = _segments_synth(spark, sf)
    return change_summary(
        segs.withColumn("break_ts", F.col("break_ts")), "2024-01-01", "2025-12-31"
    )



def _pheno_synth(spark, sf):  # noqa: ARG001 — synthetic input per north rule
    """K12 long-term-mean phenology (functions/pheno.py): 24 urls x 3
    years of 3-daily observations with url-specific planted phase/
    amplitude annual sinusoids plus a short-period deterministic
    perturbation the spline must smooth over.  Golden-table oracle
    (regression pin); the ABSOLUTE anchors are tests/test_pheno.py's
    analytic half-max/peak assertions against the planted parameters."""
    from yatsm_spark.functions.pheno import longterm_pheno

    u = spark.range(24).select(
        F.concat(F.lit("https://pheno"), F.col("id"), F.lit(".example/")).alias("url"),
        (F.lit(20.0) + 13.0 * F.col("id")).alias("phase"),
        (F.lit(1.0) + F.pmod(F.col("id"), F.lit(5)).cast("double")).alias("amp"),
    )
    obs = u.select(
        "url",
        "phase",
        "amp",
        F.explode(F.sequence(F.lit(0), F.lit(3 * 365 - 1), F.lit(3))).alias("day"),
    ).select(
        "url",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2021-01-01 00:00:00")) + F.col("day") * 86400
        ).alias("ts"),
        (
            F.lit(5.0)
            + F.col("amp")
            * F.sin((F.col("day") % 365 + 1 - F.col("phase")) * (2 * math.pi / 365.0))
            + 0.2 * F.sin(F.col("day") * 0.9)  # sub-seasonal perturbation
        ).alias("val"),
    )
    return longterm_pheno(obs, lam=None)


def _stl_synth(spark, sf):  # noqa: ARG001 — synthetic input per north rule
    """STL-style seasonal decomposition (functions/decompose.py): 12 urls
    x 200 days of 2-a-day observations with planted linear trend +
    weekly sinusoid + one spike per url.  Golden-table oracle; absolute
    anchors (component recovery, spike-only anomaly, subseries
    periodicity, reconstruction identity) in tests/test_decompose.py."""
    from yatsm_spark.functions.decompose import seasonal_decompose

    u = spark.range(12).select(
        F.concat(F.lit("https://stl"), F.col("id"), F.lit(".example/")).alias("url"),
        (F.lit(8.0) + F.col("id").cast("double")).alias("base"),
        (F.lit(0.02) + 0.01 * F.col("id")).alias("slope"),
        (F.lit(2.0) + F.pmod(F.col("id"), F.lit(3)).cast("double")).alias("amp"),
        (F.lit(60) + 20 * F.col("id")).alias("spike_at"),
    )
    obs = u.select(
        "url", "base", "slope", "amp", "spike_at",
        F.explode(F.sequence(F.lit(0), F.lit(399))).alias("k"),
    ).select(
        "url",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("k") * 43200
        ).alias("ts"),
        (
            F.col("base")
            + F.col("slope") * F.col("k") * 0.5
            + F.col("amp") * F.sin((F.col("k") * 0.5 % 7.0) * (2 * math.pi / 7.0))
            + F.when(F.col("k") == F.col("spike_at"), 25.0).otherwise(0.0)
        ).alias("val"),
    )
    return seasonal_decompose(obs, period_days=7.0)


def _hw_synth(spark, sf):  # noqa: ARG001 — synthetic input per north rule
    """Holt-Winters additive forecasting (functions/forecast.py): 8 urls
    x 10 days of hourly observations with planted level/trend/daily-
    sinusoid + a deterministic sub-daily perturbation; fitted one-step
    values for every observation plus a 24-hour forecast horizon.
    Golden-table oracle; the ABSOLUTE anchors are the closed-form
    fixed-point tests in tests/test_forecast.py (constant, pure
    seasonal, linear, trend+seasonal — all exact to 1e-12)."""
    from yatsm_spark.functions.forecast import hw_forecast

    u = spark.range(8).select(
        F.concat(F.lit("https://hw"), F.col("id"), F.lit(".example/")).alias("url"),
        (F.lit(40.0) + 3.0 * F.col("id")).alias("base"),
        (F.lit(0.005) + 0.002 * F.col("id")).alias("slope"),
        (F.lit(3.0) + F.pmod(F.col("id"), F.lit(4)).cast("double")).alias("amp"),
    )
    obs = u.select(
        "url", "base", "slope", "amp",
        F.explode(F.sequence(F.lit(0), F.lit(24 * 10 - 1))).alias("k"),
    ).select(
        "url",
        F.timestamp_seconds(
            F.unix_timestamp(F.lit("2024-03-01 00:00:00")) + F.col("k") * 3600
        ).alias("ts"),
        (
            F.col("base")
            + F.col("slope") * F.col("k")
            + F.col("amp") * F.sin((F.col("k") % 24) * (2 * math.pi / 24.0))
            + 0.3 * F.sin(F.col("k") * 1.7)
        ).alias("val"),
    )
    return hw_forecast(obs, period_rows=24, horizon=24)


def _q_corpus_clean_e2e(spark, sf):
    """FULL corpus-cleaning pipeline (jobs/corpus.py::clean_corpus) over
    a crawl synthesized from the documents table — HASH-CHECKED end to
    end against a DuckDB twin that replays every stage: snapshot (the
    synthetic urls are already canonical and single-observation, so
    snapshot is identity), exact dedup (min-url keeper per md5), MinHash
    LSH banding, recursive-CTE connected components, the Gopher
    dup-bigram/min-tokens quality gate, PII redaction, and the md5 hash
    split.  Output text is fingerprinted so the value-hash compare moves
    32-char digests, not documents."""
    from jobs.corpus import clean_corpus
    from yatsm_spark.functions.textops import fingerprint

    d = _t(spark, sf, "documents")
    crawl = d.select(
        F.concat(
            F.lit("https://ex.com/d"),
            F.lpad(F.col("doc_id").cast("string"), 7, "0"),
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    # portable tier: the DuckDB twin recomputes MinHash signatures, so
    # this query pins the md5 hash domain (production default is "fast")
    cleaned, _m = clean_corpus(crawl, minhash_hash_fn="portable")
    return cleaned.select(
        "doc_id", fingerprint("text").alias("text_fp"), "lang", "split"
    )


def _q_hist_p95_1d(spark, sf):
    """Mergeable histogram-sketch percentile tier: 1h sketches cascade to
    1d and answer p50/p95 WITHOUT re-reading raw data — the oracle
    re-derives the same bucket algebra from RAW events, so a green row
    proves the sketch merge exact end to end."""
    from yatsm_spark.operators.sketch import hist_cascade, hist_percentile, hist_sketch

    sk1h = hist_sketch(_t(spark, sf, "events"))
    return hist_percentile(hist_cascade(sk1h, "1d"))


def _q_anomaly_zscore(spark, sf):
    """Rolling z-score anomaly flags (trailing 24 obs, k=3, min 8 obs) —
    cross-multiplied decimal comparison, no floating division anywhere."""
    from yatsm_spark.operators.series import anomaly_zscore

    return anomaly_zscore(_t(spark, sf, "events"), order_tiebreak="event_id")


def _q_ewma_events(spark, sf):
    """Dyadic-alpha (1/4) integer EWMA per user series — the recursive
    smoother as a stepped-matrix vectorized kernel; the DuckDB twin
    replays the identical int64 recursion in a recursive CTE."""
    from yatsm_spark.operators.series import ewma_series

    return ewma_series(_t(spark, sf, "events"), order_tiebreak="event_id")


def _q_twa_1h(spark, sf):
    """Time-weighted average per (user, hour) under LOCF — TimescaleDB's
    time_weight: the integral of the step function over covered micro-
    seconds, floor-divided in decimal(38,0)."""
    from yatsm_spark.operators.series import time_weighted_avg

    return time_weighted_avg(_t(spark, sf, "events"), "1h", order_tiebreak="event_id")


def _q_state_durations_1h(spark, sf):
    """Time-in-state per (user, hour, event_type) under LOCF — the
    state_agg/duration_in twin of twa_1h: integer-microsecond durations,
    one key window + one hash aggregate."""
    from yatsm_spark.operators.series import state_durations

    return state_durations(_t(spark, sf, "events"), "1h", order_tiebreak="event_id")


def _q_uptime_1h(spark, sf):
    """Heartbeat uptime coverage per (user, hour): union length of
    10-minute liveness intervals clipped to the bucket — heartbeat_agg's
    interval-union algebra in pure integer microseconds."""
    from yatsm_spark.operators.series import heartbeat_uptime

    return heartbeat_uptime(_t(spark, sf, "events"), "1h", order_tiebreak="event_id")


def _q_hampel_12(spark, sf):
    """Hampel filter: rolling-median/MAD anomaly flags (trailing 12 obs,
    k=3, min 8 obs) — the robust sibling of anomaly_zscore_24; lower
    median + MAD in pure bigint, no division anywhere."""
    from yatsm_spark.operators.series import hampel_flags

    return hampel_flags(_t(spark, sf, "events"), order_tiebreak="event_id")


def _q_wau_7d(spark, sf):
    """Rolling active users: per observed day, exact DAU next to exact
    trailing-7-day distinct users (WAU) via offset-explode on the
    deduped (user, day) frame — sliding distinct without a range join."""
    from yatsm_spark.operators.series import rolling_active

    return rolling_active(_t(spark, sf, "events"), days=7)


def _q_cm_topk_1d(spark, sf):
    """Count-min heavy-hitter tier: 1h CM counter matrices cascade
    cell-wise to 1d; per-(event_type, day) top-5 users by CM estimate
    over the union of exact per-hour top-8 candidates.  The oracle
    re-derives cells + probes from RAW events, so a green row proves
    the counter-matrix merge exact."""
    from yatsm_spark.operators.sketch import (
        cm_candidates,
        cm_cascade,
        cm_sketch,
        cm_topk,
    )

    ev = _t(spark, sf, "events")
    sk1d = cm_cascade(cm_sketch(ev, "1h"), "1d")
    return cm_topk(sk1d, cm_candidates(ev, "1h", m=8), "1d", topk=5)


def _q_emb_kmeans(spark, sf):
    """Deterministic distributed k-means: Lloyd's run entirely in integer
    micro-units (integer squared-L2 argmin assignment, pmod-exact
    floor-div centroid update), so the fit itself — not just a readout —
    hash-matches a DuckDB twin unrolling the same iteration."""
    from yatsm_spark.operators.similarity import kmeans_exact

    return kmeans_exact(_t(spark, sf, "embeddings"), k=8, n_iter=1, dim=64)


def _q_kmv_distinct_1d(spark, sf):
    """KMV distinct-count sketch tier: 1h bottom-k hash sketches cascade
    to 1d and answer per-(event_type, day) distinct users after raw
    age-out — the oracle re-derives the bottom-k + estimator algebra
    from RAW events, so a green row proves the KMV merge exact."""
    from yatsm_spark.operators.sketch import kmv_cascade, kmv_estimate, kmv_sketch

    sk1h = kmv_sketch(_t(spark, sf, "events"), "1h")
    return kmv_estimate(kmv_cascade(sk1h, "1d"))


def _q_docs_paragraph_dedup(spark, sf):
    """Paragraph-level boilerplate dedup (RefinedWeb/Dolma stage): lines
    repeated across >1 docs drop everywhere, text reassembled in order.
    Line structure is derived deterministically (' table ' -> newline) so
    the word-soup corpus gains real cross-doc duplicate lines; md5 keeps
    the reassembled-text compare slim (chunk_md5 precedent)."""
    from yatsm_spark.operators.dedup import paragraph_dedup

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.replace(F.col("text"), F.lit(" table "), F.lit(" table\n"))
    )
    out = paragraph_dedup(docs)
    return out.select(
        "doc_id", F.md5("clean_text").alias("clean_md5"), "n_paras", "n_dropped"
    )


def _q_funnel_vcp(spark, sf):
    """Ordered funnel view -> click -> purchase per user (ClickHouse
    windowFunnel semantics): one groupBy(user) + sort_array + aggregate()
    fold; the oracle is the equivalent chained-strict-min SQL."""
    from yatsm_spark.operators.series import funnel

    return funnel(
        _t(spark, sf, "events"), ["view", "click", "purchase"],
        key_col="user_id", ts_col="ts",
    )


def _q_cohort_retention(spark, sf):
    """Daily cohort retention matrix: users cohorted by first active day;
    n_active distinct users per (cohort day, day offset)."""
    from yatsm_spark.operators.series import cohort_retention

    return cohort_retention(_t(spark, sf, "events"), key_col="user_id", ts_col="ts", tier="1d")


def _q_interval_purchase_after_error(spark, sf):
    """Binned point-in-interval join: purchases landing inside the
    [error, error+1h) window of the SAME user.  The bin equi-join keeps
    the plan hash-join shaped (no nested-loop range join); containment
    refines map-side."""
    from yatsm_spark.operators.series import interval_overlap_join

    ev = _t(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    return interval_overlap_join(
        purch, errors, ts_col="ts", key_cols=("user_id",), bin_seconds=3600
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The external correctness gate checks the FIRST 50 entries; Tier-1
    # (tests/test_oracle.py) checks every entry against its oracle_sql().
    return {
        # ---- driver window (first 50) ----
        "media_dims_synth": _q_media_dims_synth,
        "counter_increase_1h": _q_counter_increase_1h,
        "docs_lm_score": _q_docs_lm_score,
        "docs_dsir_score": _q_docs_dsir_score,
        "docs_nb_lang": _q_docs_nb_lang,
        "emb_kmeans": _q_emb_kmeans,
        "tfidf_cosine": _q_tfidf_cosine,
        "docs_jaccard_pairs": _q_docs_jaccard,
        "neardup_clusters": _q_neardup_clusters,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "minhash_lsh_guarded": _q_minhash_lsh_guarded,
        "simhash_neardup": _q_simhash_neardup,
        "corpus_clean_e2e": _q_corpus_clean_e2e,
        "docs_tfidf_terms": _q_docs_tfidf_terms,
        "docs_collocations": _q_docs_collocations,
        "docs_dup_spans": _q_docs_dup_spans,
        "stl_decompose_synth": _stl_synth,
        "hw_forecast_synth": _hw_synth,
        "rollup_1h": _q_rollup_1h,
        "cascade_1d": _q_cascade_1d,
        "cascade_30d": _q_cascade_30d,
        "codec_roundtrip": _q_codec_roundtrip,
        "blob_range_read": _q_blob_range_read,
        "retention_1h": _q_retention_1h,
        "incr_merge_1h": _q_incr_merge_1h,
        "ohlc_daily": _q_ohlc_daily,
        "percentile_daily": _q_percentile_daily,
        "gap_fill_1h": _q_gap_fill_1h,
        "locf_1h": _q_locf_1h,
        "docs_exact_dedup": _q_docs_exact_dedup,
        "docs_text_quality": _q_docs_quality,
        "docs_lang_id": _q_docs_lang_id,
        "docs_simhash32": _q_docs_simhash,
        "emb_norms": _q_emb_norms,
        "emb_ann_topk": _q_emb_ann,
        "emb_cosine_neardup": _q_emb_neardup,
        "docs_pii_redact": _q_docs_pii_redact,
        "docs_decontam": _q_docs_decontam,
        "asof_nearest_purchase": _q_asof_nearest,
        "asof_prev_purchase": _q_asof_prev_purchase,
        "sliding_mean_24h": _q_sliding_24h,
        "window_deltas": _q_window_deltas,
        "sessionize_30m": _q_sessionize,
        "topk_users": _q_topk_users,
        "bcast_revenue_by_nation": _q_bcast_revenue,
        "salted_event_stats": _q_salted_stats,
        "docs_hash_split": _q_docs_hash_split,
        "pricing_summary": _q_pricing_summary,
        "docs_lang_dist": _q_docs_lang_dist,
        "pheno_longterm_synth": _pheno_synth,
        # ---- below the driver's 50-query window (full-registry
        # coverage via tests/test_oracle.py) ----
        "docs_minhash_sigs": _q_docs_minhash,
        "docs_dup_span_cut": _q_docs_dup_span_cut,
        "docs_commonness": _q_docs_commonness,
        "url_canonicalize": _q_url_canonicalize,
        "event_type_daily": _q_event_type_daily,
        "grouping_rollup": _q_grouping_rollup,
        "distinct_users_exact": _q_distinct_users,
        "anti_join_orders_no_hiqty": _q_anti_join,
        "semi_join_highvalue": _q_semi_join,
        "except_day1_not_daylast": _q_except_viewers,
        "harmonic_projection": _q_harmonic_projection,
        "docs_fingerprint": _q_docs_fingerprint,
        "docs_token_regex": _q_docs_token_regex,
        "docs_winnow_fp": _q_docs_winnow_fp,
        "stitch_range": _q_stitch_range,
        "hampel_12": _q_hampel_12,
        "wau_7d": _q_wau_7d,
        "cm_topk_1d": _q_cm_topk_1d,
        "funnel_view_click_purchase": _q_funnel_vcp,
        "cohort_retention_daily": _q_cohort_retention,
        "interval_purchase_after_error": _q_interval_purchase_after_error,
        "interp_linear_1h": _q_interp_linear_1h,
        "m4_daily": _q_m4_daily,
        "docs_chunk_windows": _q_docs_chunk_windows,
        "docs_c4_filter": _q_docs_c4_filter,
        "hist_p95_1d": _q_hist_p95_1d,
        "anomaly_zscore_24": _q_anomaly_zscore,
        "ewma_events": _q_ewma_events,
        "twa_1h": _q_twa_1h,
        "kmv_distinct_1d": _q_kmv_distinct_1d,
        "state_durations_1h": _q_state_durations_1h,
        "uptime_1h": _q_uptime_1h,
        "docs_paragraph_dedup": _q_docs_paragraph_dedup,
        "emb_neardup_lsh": _q_emb_neardup_lsh,
        "emb_semantic_dedup": _q_emb_semantic_dedup,
        "jsonl_ingest": _q_jsonl_ingest,
        "docs_content_drift": _q_docs_content_drift,
        "docs_repetition": _q_docs_repetition,
        "docs_top_quartile": _q_docs_top_quartile,
        "docs_domain_cap": _q_docs_domain_cap,
        "docs_pack_budget": _q_docs_pack_budget,
        "emb_ann_lsh": _q_ann_lsh,
        "emb_ann_ivf": _q_ann_ivf,
        "multimodal_media_synth": _q_multimodal_synth,
        "ccdc_segments_synth": _segments_synth,
        "ccdc_changemap_synth": _changemap_synth,
        "ccdc_classify_synth": _classify_synth,
    }


# --------------------------------------------------------------- oracles

_BUCKET = "make_timestamp(CAST(floor(epoch({ts})/{s})*{s} AS BIGINT)*1000000)"


def _b(ts: str, secs: int) -> str:
    return _BUCKET.format(ts=ts, s=secs)


_H = _b("ts", 3600)

_ROLLUP_1H = f"""
SELECT user_id, {_H} AS bucket_ts, count(*) AS cnt,
       round(sum(value),4)+0 AS sum_val,
       round((round(sum(value),4)+0)/count(*),4)+0 AS mean_val,
       round(min(value),4)+0 AS min_val, round(max(value),4)+0 AS max_val
FROM events GROUP BY 1, 2
"""

_INCR_MERGE_1H = f"""
WITH e AS (
  SELECT user_id, ts, CAST(round(value * 10000, 0) AS BIGINT) AS iv FROM events)
SELECT user_id, {_H} AS bucket_ts, count(*) AS cnt,
       CAST(sum(iv) AS BIGINT) AS sum_x1e4,
       CAST((2 * sum(iv) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_x1e4,
       CAST(min(iv) AS BIGINT) AS min_x1e4, CAST(max(iv) AS BIGINT) AS max_x1e4
FROM e GROUP BY 1, 2
"""

_RETENTION_1H = f"""
WITH t AS (
  SELECT user_id, {_H} AS bucket_ts, count(*) AS cnt,
         round(sum(value),4)+0 AS sum_val,
         round((round(sum(value),4)+0)/count(*),4)+0 AS mean_val,
         round(min(value),4)+0 AS min_val, round(max(value),4)+0 AS max_val
  FROM events GROUP BY 1, 2),
m AS (SELECT max(bucket_ts) AS mx FROM t)
SELECT t.* FROM t, m WHERE t.bucket_ts > m.mx - INTERVAL 7 DAY
"""

_CASCADE_1D = f"""
WITH h1 AS (
  SELECT user_id, {_H} AS bucket_ts, count(*) AS cnt, sum(value) AS sum_val,
         min(value) AS min_val, max(value) AS max_val
  FROM events GROUP BY 1, 2)
SELECT user_id, {_b("bucket_ts", 86400)} AS bucket_ts, CAST(sum(cnt) AS BIGINT) AS cnt,
       round(sum(sum_val),4)+0 AS sum_val,
       round((round(sum(sum_val),4)+0)/sum(cnt),4)+0 AS mean_val,
       round(min(min_val),4)+0 AS min_val, round(max(max_val),4)+0 AS max_val
FROM h1 GROUP BY 1, 2
"""

_CASCADE_30D = f"""
WITH h1 AS (
  SELECT user_id, {_H} AS bucket_ts, count(*) AS cnt, sum(value) AS sum_val,
         min(value) AS min_val, max(value) AS max_val
  FROM events GROUP BY 1, 2),
d1 AS (
  SELECT user_id, {_b("bucket_ts", 86400)} AS bucket_ts, sum(cnt) AS cnt,
         sum(sum_val) AS sum_val, min(min_val) AS min_val, max(max_val) AS max_val
  FROM h1 GROUP BY 1, 2)
SELECT user_id, {_b("bucket_ts", 2592000)} AS bucket_ts, CAST(sum(cnt) AS BIGINT) AS cnt,
       round(sum(sum_val),4)+0 AS sum_val,
       round((round(sum(sum_val),4)+0)/sum(cnt),4)+0 AS mean_val,
       round(min(min_val),4)+0 AS min_val, round(max(max_val),4)+0 AS max_val
FROM d1 GROUP BY 1, 2
"""

# stitch_range: the oracle never sees the tiers — it aggregates RAW
# events inside the stitched window, so a green row proves the
# coarse-interior + fine-edge decomposition exactly reproduces the raw
# range aggregate.
_STITCH_RANGE = """
WITH e AS (
  SELECT user_id, CAST(round(value * 10000, 0) AS BIGINT) AS iv FROM events
  WHERE ts >= TIMESTAMP '2024-01-03 07:00:00'
    AND ts <  TIMESTAMP '2024-01-27 19:00:00')
SELECT user_id, count(*) AS cnt, CAST(sum(iv) AS BIGINT) AS sum_x1e4,
       CAST(min(iv) AS BIGINT) AS min_x1e4,
       CAST(max(iv) AS BIGINT) AS max_x1e4
FROM e GROUP BY 1
"""

_GAP_FILL_1H = f"""
WITH tier AS (
  SELECT user_id, {_H} AS bucket_ts, count(*) AS cnt FROM events GROUP BY 1, 2),
span AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM tier GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts FROM span)
SELECT g.user_id, g.bucket_ts, coalesce(t.cnt, 0) AS cnt,
       (t.cnt IS NULL) AS gap_filled
FROM grid g LEFT JOIN tier t ON g.user_id = t.user_id AND g.bucket_ts = t.bucket_ts
"""

_LOCF_1H = f"""
WITH tier AS (
  SELECT user_id, {_H} AS bucket_ts,
         round((round(sum(value),4)+0)/count(*),4)+0 AS mean_val
  FROM events GROUP BY 1, 2),
span AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM tier GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts FROM span),
joined AS (
  SELECT g.user_id, g.bucket_ts, t.mean_val, (t.mean_val IS NULL) AS gap_filled
  FROM grid g LEFT JOIN tier t ON g.user_id = t.user_id AND g.bucket_ts = t.bucket_ts)
SELECT user_id, bucket_ts, gap_filled,
       last_value(mean_val IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_mean
FROM joined
"""

_INTERP_1H = f"""
WITH tier AS (
  SELECT user_id, {_H} AS bucket_ts,
         round((round(sum(value),4)+0)/count(*),4)+0 AS mean_val
  FROM events GROUP BY 1, 2),
span AS (
  SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM tier GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts FROM span),
j AS (
  SELECT g.user_id, g.bucket_ts, (t.mean_val IS NULL) AS gap_filled,
         CAST(round(t.mean_val*10000) AS BIGINT) AS vu,
         CASE WHEN t.mean_val IS NOT NULL THEN epoch(g.bucket_ts) END AS ot
  FROM grid g LEFT JOIN tier t ON g.user_id = t.user_id AND g.bucket_ts = t.bucket_ts),
w AS (
  SELECT user_id, bucket_ts, gap_filled, vu, epoch(bucket_ts) AS t,
    last_value(vu IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(ot IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(vu IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(ot IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_ts
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j)
SELECT user_id, bucket_ts, gap_filled,
  CASE WHEN vu IS NOT NULL THEN vu
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         -- floor-exact bigint blend: (num - floormod(num, den)) / den
         CAST((pv*(nt-t)+nv*(t-pt)
               - ((((pv*(nt-t)+nv*(t-pt)) % (nt-pt)) + (nt-pt)) % (nt-pt)))
              / (nt-pt) AS BIGINT)
       ELSE NULL END AS interp_u
FROM w
"""

_M4_DAILY = f"""
SELECT user_id, {_b("ts", 86400)} AS bucket_ts,
  (min({{'t': ts, 'v': value}}))['t'] AS t_first,
  round((min({{'t': ts, 'v': value}}))['v'], 4) + 0 AS v_first,
  (min({{'v': value, 't': ts}}))['t'] AS t_min,
  round((min({{'v': value, 't': ts}}))['v'], 4) + 0 AS v_min,
  (max({{'v': value, 't': ts}}))['t'] AS t_max,
  round((max({{'v': value, 't': ts}}))['v'], 4) + 0 AS v_max,
  (max({{'t': ts, 'v': value}}))['t'] AS t_last,
  round((max({{'t': ts, 'v': value}}))['v'], 4) + 0 AS v_last,
  count(*) AS cnt
FROM events GROUP BY 1, 2
"""

_DOCS_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(len(toks) AS BIGINT), 48)) AS start FROM t)
SELECT doc_id, start // 48 AS chunk_id, start AS start_tok,
  CAST(len(toks[start+1 : start+64]) AS BIGINT) AS chunk_tokens,
  md5(array_to_string(toks[start+1 : start+64], ' ')) AS chunk_md5
FROM s
"""

_DOCS_C4 = """
WITH t AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
l AS (SELECT doc_id, txt, string_split(txt, chr(10)) AS lines FROM t),
k AS (SELECT doc_id, txt, lines,
        list_filter(lines, ln ->
          right(trim(ln), 1) IN ('.', '!', '?', '"')
          AND len(string_split(ln, ' ')) >= 5
          AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM l)
SELECT doc_id,
  -- DuckDB array_to_string on an EMPTY list is NULL (string_agg
  -- semantics); Spark array_join gives '' — coalesce to match
  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_lines_kept,
  (len(kept) >= 3 AND NOT contains(lower(txt), 'lorem ipsum')
   AND NOT contains(lower(txt), '{')) AS c4_keep
FROM k
"""

_OHLC_DAILY = f"""
SELECT user_id, {_b("ts", 86400)} AS bucket_ts,
       round((min({{'t': ts, 'v': value}}))['v'], 4) + 0 AS open,
       round(max(value), 4) + 0 AS high,
       round(min(value), 4) + 0 AS low,
       round((max({{'t': ts, 'v': value}}))['v'], 4) + 0 AS close,
       count(*) AS cnt
FROM events GROUP BY 1, 2
"""

_PERCENTILE_DAILY = f"""
SELECT user_id, {_b("ts", 86400)} AS bucket_ts,
       round(quantile_cont(value, 0.5), 4) + 0 AS p50,
       round(quantile_cont(value, 0.95), 4) + 0 AS p95,
       count(*) AS cnt
FROM events GROUP BY 1, 2
"""

_SLIDING_24H = f"""
WITH t AS (
  SELECT user_id, {_H} AS bucket_ts,
         CAST(round((round((round(sum(value),4)+0)/count(*),4)+0) * 10000) AS BIGINT) AS iv
  FROM events GROUP BY 1, 2),
w AS (
  SELECT user_id, bucket_ts,
         sum(iv) OVER (PARTITION BY user_id ORDER BY epoch(bucket_ts)
           RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS sum_iv,
         count(*) OVER (PARTITION BY user_id ORDER BY epoch(bucket_ts)
           RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) AS n_win
  FROM t)
SELECT user_id, bucket_ts,
       CAST((2 * sum_iv + n_win) // (2 * n_win) AS BIGINT) AS avg24h_x1e4,
       n_win
FROM w
"""

_SESSIONIZE = """
WITH d AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events),
s AS (
  SELECT user_id,
         CASE WHEN prev IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM d)
SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions FROM s GROUP BY user_id
"""

_WINDOW_DELTAS = """
SELECT user_id, ts,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS INTEGER) AS rn,
       round(value, 4)+0 AS value,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts), 4)+0 AS delta
FROM events
"""

_ASOF = """
SELECT event_id,
       last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_purchase_ts
FROM events
"""

_ASOF_NEAREST = """
WITH e AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'purchase' THEN ts END AS mk
  FROM events),
w AS (
  SELECT event_id, ts,
         last_value(mk IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
         first_value(mk IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
  FROM e),
n AS (
  SELECT event_id, ts,
         CASE WHEN prev IS NULL THEN nxt
              WHEN nxt IS NULL THEN prev
              WHEN epoch(ts) - epoch(prev) <= epoch(nxt) - epoch(ts) THEN prev
              ELSE nxt END AS nearest
  FROM w)
SELECT event_id,
       CASE WHEN abs(epoch(ts) - epoch(nearest)) <= 7200 THEN nearest END
         AS nearest_purchase_ts
FROM n
"""

_TOPK = """
SELECT user_id, count(*) AS cnt FROM events
GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 10
"""

_EVENT_TYPE_DAILY = """
SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt,
       round(sum(value),4) AS sum_val
FROM events GROUP BY 1, 2
"""

_GROUPING_ROLLUP = """
SELECT coalesce(event_type, '(all)') AS event_type, count(*) AS cnt,
       round(sum(value),4) AS sum_val
FROM events GROUP BY ROLLUP(event_type)
"""

_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1
"""

_ANTI = """
SELECT o_orderkey, o_orderstatus FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 30)
"""

_SEMI = """
SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),4) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
GROUP BY 1
"""

_BCAST = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""

_EXCEPT = """
SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
EXCEPT
SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
"""

_HARMONIC = """
SELECT event_id,
       round(floor(epoch(ts)) / 86400.0, 6)+0 AS t_days,
       round(cos(2 * pi() / 365.25 * (floor(epoch(ts)) / 86400.0)), 4)+0 AS cos1,
       round(sin(2 * pi() / 365.25 * (floor(epoch(ts)) / 86400.0)), 4)+0 AS sin1
FROM events
"""

_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_quantity) / count(*), 4) AS avg_qty,
       round(sum(l_discount) / count(*), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""

_DOCS_LANG_DIST = """
SELECT source, lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2
"""

_DOCS_QUALITY = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       round((length(text) - len(string_split(text, ' ')) + 1)
             * 1.0 / len(string_split(text, ' ')), 4) AS mean_tok_len,
       round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text), 4) AS digit_ratio,
       round(length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 / length(text), 4) AS upper_ratio
FROM documents
"""


def _marker_score(lang_markers: list[str]) -> str:
    terms = " + ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{m}'))" for m in lang_markers
    )
    return f"({terms})"


_DOCS_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         {_marker_score(['der', 'die', 'und', 'das', 'ist'])} AS s_de,
         {_marker_score(['the', 'and', 'of', 'a', 'to'])} AS s_en,
         {_marker_score(['el', 'la', 'los', 'que', 'de'])} AS s_es,
         {_marker_score(['le', 'la', 'et', 'les', 'des'])} AS s_fr
  FROM documents)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            ELSE 'de' END AS lang_guess
FROM s
"""

_DOCS_DEDUP = """
SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""

_DOCS_FP = """
SELECT doc_id, md5(text) AS fp, CAST(length(text) AS INTEGER) AS text_len FROM documents
"""

_HASH_SHINGLES_CTE = """
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
th AS (SELECT doc_id,
              list_transform(ws,
                t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647) AS hs
       FROM w),
hsh AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 3
           THEN list_transform(range(len(hs) - 2),
                i -> (((hs[i+1] * 1000003 + hs[i+2]) % 2147483647) * 1000003
                      + hs[i+3]) % 2147483647)
           ELSE [] END AS s
  FROM th)
"""

_SHINGLES_CTE = """
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 3
           THEN list_transform(range(len(ws) - 2),
                               i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
           ELSE [] END) AS s
  FROM w)
"""

_DOCS_JACCARD = f"""
WITH {_SHINGLES_CTE},
e0 AS (SELECT doc_id, unnest(s) AS tok FROM sh),
-- skew guard (mirrors max_shingle_freq=128): drop stopword-grade shingles
e AS (SELECT doc_id, tok FROM e0
      WHERE tok IN (SELECT tok FROM e0 GROUP BY tok HAVING count(*) <= 128)),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
-- sizes from the PRUNED universe (same as the operator)
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id)
SELECT id_a, id_b, round(inter * 1.0 / (x.n + y.n - inter), 4) AS jaccard
FROM p JOIN sz x ON p.id_a = x.doc_id JOIN sz y ON p.id_b = y.doc_id
WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.1
"""

_DOCS_MINHASH = f"""
WITH {_HASH_SHINGLES_CTE},
h AS (SELECT doc_id, unnest(s) AS hv FROM hsh WHERE len(s) > 0)
SELECT doc_id, i, min((hv * (2 * i + 1) + 7919 * (i + 1)) % 2147483647) AS sig_val
FROM h CROSS JOIN (SELECT unnest(range(16)) AS i) idx
GROUP BY doc_id, i
"""

_DOCS_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks),
bits AS (
  SELECT doc_id, idx.i AS bit,
         sum(CASE WHEN (hv >> CAST(idx.i AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) idx
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN power(2, bit) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

# simhash_neardup: the oracle is BRUTE FORCE — every pair with
# popcount(xor) <= 3 over the replayed 32-bit simhashes — so a green row
# proves the banded candidate generation lossless, not just consistent.
# (No max_bucket in the query: at sf0.01 no band bucket is degenerate,
# so the guardless banded set must equal the exhaustive set.)
_SIMHASH_NEARDUP = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks),
bits AS (
  SELECT doc_id, idx.i AS bit,
         sum(CASE WHEN (hv >> CAST(idx.i AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) idx
  GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN power(2, bit) ELSE 0 END) AS BIGINT) AS sh
  FROM bits GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""

_SALTED = """
SELECT event_type, count(*) AS cnt, round(sum(value),4) AS sum_val,
       round(min(value),4) AS min_val, round(max(value),4) AS max_val
FROM events GROUP BY 1
"""

_EMB_NORMS = """
SELECT vec_id, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2
FROM embeddings
"""

_EMB_NEARDUP = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.e, b.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
  FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(c, 6) AS sim FROM s WHERE c >= 0.4
"""

_MINHASH_LSH = f"""
WITH {_HASH_SHINGLES_CTE},
h AS (SELECT doc_id, unnest(s) AS hv FROM hsh WHERE len(s) > 0),
sig AS (
  SELECT doc_id, i, min((hv * (2 * i + 1) + 7919 * (i + 1)) % 2147483647) AS sig_val
  FROM h CROSS JOIN (SELECT unnest(range(16)) AS i) idx
  GROUP BY doc_id, i),
bk AS (
  SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
         string_agg(sig_val::VARCHAR, ',' ORDER BY i) AS bkey
  FROM sig GROUP BY doc_id, CAST(i // 4 AS INTEGER)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
                     AND a.doc_id < b.doc_id),
agree AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN x.sig_val = y.sig_val THEN 1 ELSE 0 END) AS n_eq
  FROM cand c
  JOIN sig x ON x.doc_id = c.id_a
  JOIN sig y ON y.doc_id = c.id_b AND y.i = x.i
  GROUP BY 1, 2)
SELECT id_a, id_b, round(n_eq / 16.0, 4) AS sig_sim FROM agree
"""

# per-series simhash lag drift: reuses the docs_simhash32 derivation CTE
_DOCS_CONTENT_DRIFT = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks),
bits AS (
  SELECT doc_id, idx.i AS bit,
         sum(CASE WHEN (hv >> CAST(idx.i AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS i) idx
  GROUP BY 1, 2),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN power(2, bit) ELSE 0 END) AS BIGINT) AS sh
  FROM bits GROUP BY doc_id),
lagd AS (
  SELECT doc_id % 40 AS url_id, doc_id, sh,
         lag(sh)  OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) AS prev,
         lag(sh,2) OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) AS prev2,
         lead(sh) OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) AS nxt
  FROM sim)
-- K6-style consecutive=2 confirmation: stable baseline (prev's own
-- transition < 6) AND this obs AND the next both >= 6 from the baseline
SELECT url_id, doc_id, bit_count(xor(sh, prev))::BIGINT AS hamming,
       CASE WHEN (prev2 IS NULL OR bit_count(xor(prev, prev2)) < 6)
                 AND bit_count(xor(sh, prev)) >= 6
                 AND nxt IS NOT NULL AND bit_count(xor(nxt, prev)) >= 6
            THEN 1 ELSE 0 END AS drift
FROM lagd WHERE prev IS NOT NULL
"""

# the max_bucket=2 star-guard split: buckets with <=2 members emit exact
# all-pairs, larger buckets emit (min-id root, member) star edges only
_MINHASH_LSH_GUARDED = f"""
WITH {_HASH_SHINGLES_CTE},
h AS (SELECT doc_id, unnest(s) AS hv FROM hsh WHERE len(s) > 0),
sig AS (
  SELECT doc_id, i, min((hv * (2 * i + 1) + 7919 * (i + 1)) % 2147483647) AS sig_val
  FROM h CROSS JOIN (SELECT unnest(range(16)) AS i) idx
  GROUP BY doc_id, i),
bk AS (
  SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
         string_agg(sig_val::VARCHAR, ',' ORDER BY i) AS bkey
  FROM sig GROUP BY doc_id, CAST(i // 4 AS INTEGER)),
bstat AS (
  SELECT band, bkey, count(*) AS bn, min(doc_id) AS rid
  FROM bk GROUP BY 1, 2),
small_cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a
  JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  JOIN bstat s ON s.band = a.band AND s.bkey = a.bkey AND s.bn <= 2),
star_cand AS (
  SELECT s.rid AS id_a, m.doc_id AS id_b
  FROM bk m
  JOIN bstat s ON s.band = m.band AND s.bkey = m.bkey AND s.bn > 2
              AND m.doc_id <> s.rid),
cand AS (
  SELECT DISTINCT id_a, id_b
  FROM (SELECT * FROM small_cand UNION ALL SELECT * FROM star_cand)),
agree AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN x.sig_val = y.sig_val THEN 1 ELSE 0 END) AS n_eq
  FROM cand c
  JOIN sig x ON x.doc_id = c.id_a
  JOIN sig y ON y.doc_id = c.id_b AND y.i = x.i
  GROUP BY 1, 2)
SELECT id_a, id_b, round(n_eq / 16.0, 4) AS sig_sim FROM agree
"""

# connected components over the >=0.5-sig_sim LSH edges: recursive
# transitive closure + min-label (verified == union-find on sf0.01)
_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE base AS ({_MINHASH_LSH}),
ed AS (SELECT id_a AS s, id_b AS d FROM base WHERE sig_sim >= 0.5
       UNION ALL SELECT id_b, id_a FROM base WHERE sig_sim >= 0.5),
reach(a, b) AS (
  SELECT DISTINCT s, s FROM ed
  UNION
  SELECT r.a, e.d FROM reach r JOIN ed e ON e.s = r.b),
cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT cc.doc_id, cc.cluster_id, sz.cluster_size,
       cc.doc_id = cc.cluster_id AS is_keeper
FROM cc JOIN sz USING (cluster_id)
"""

def _kgram_expr(k: int) -> str:
    """DuckDB word-k-gram list over ws (mirrors dedup.shingle_rows)."""
    terms = " || ' ' || ".join(f"ws[i+{j+1}]" for j in range(k))
    return (
        f"CASE WHEN len(ws) >= {k} "
        f"THEN list_transform(range(len(ws) - {k - 1}), i -> {terms}) "
        "ELSE [] END"
    )


# integer round-half-up x1e4 (see operators/quality.py::_x1e4)
def _x1e4_sql(num: str, den: str) -> str:
    return f"CASE WHEN {den} = 0 THEN 0 ELSE (20000*{num} + {den}) // (2*{den}) END"


_DOCS_REPETITION = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct, max(c) AS top_c
        FROM tc GROUP BY doc_id),
bg AS (SELECT doc_id, {_kgram_expr(2)} AS bgs FROM w),
bi AS (SELECT doc_id, len(bgs) AS n_bi, len(list_distinct(bgs)) AS n_bi_distinct
       FROM bg)
SELECT u.doc_id, u.n_tokens,
       {_x1e4_sql('u.n_distinct', 'u.n_tokens')} AS distinct_frac_x1e4,
       {_x1e4_sql('u.top_c', 'u.n_tokens')} AS top_token_frac_x1e4,
       {_x1e4_sql('(b.n_bi - b.n_bi_distinct)', 'b.n_bi')} AS dup_bigram_frac_x1e4
FROM uni u JOIN bi b USING (doc_id)
"""

_DOCS_TOP_QUARTILE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct
        FROM tc GROUP BY doc_id),
scored AS (
  SELECT u.doc_id, d.lang,
         (20000*u.n_distinct + u.n_tokens) // (2*u.n_tokens) AS score
  FROM uni u JOIN documents d USING (doc_id)),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored)
SELECT doc_id, lang, score FROM ranked WHERE rn * 4 <= n
"""

_DOCS_DOMAIN_CAP = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) WHERE rn <= 10
"""

# naive global running-sum form of the histogram-threshold packer
_DOCS_PACK_BUDGET = """
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
  FROM documents),
c AS (
  SELECT doc_id, n_chars, w,
         sum(w) OVER (ORDER BY n_chars DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT doc_id, n_chars, w FROM c WHERE cum <= 15000
"""

_DOCS_TFIDF = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
tc AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
v AS (SELECT t, count(*) AS df FROM tc GROUP BY t),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tc.doc_id, tc.t, tc.tf, v.df,
         {_x1e4_sql('(tc.tf * n.n)', 'v.df')} AS tfidf_x1e4
  FROM tc JOIN v USING (t) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_x1e4 DESC, t) AS rn
      FROM scored)
SELECT doc_id, t AS term, tf, df, tfidf_x1e4 FROM r WHERE rn <= 3
"""

_DOCS_COMMONNESS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
tc AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
v AS (SELECT t, count(*) AS df FROM tc GROUP BY t),
n AS (SELECT count(*) AS n FROM documents),
agg AS (
  SELECT tc.doc_id, CAST(sum(tc.tf) AS BIGINT) AS n_tokens,
         CAST(sum(tc.tf * v.df) AS BIGINT) AS sum_df
  FROM tc JOIN v USING (t) GROUP BY tc.doc_id)
SELECT a.doc_id, a.n_tokens,
       {_x1e4_sql('a.sum_df', '(a.n_tokens * n.n)')} AS mean_df_x1e4
FROM agg a CROSS JOIN n
"""

# tfidf_cosine: weights, dots, and norms re-derived from raw text in
# HUGEINT; idf_q = bitlen(N) - bitlen(df) via bin(); floor-div // is
# exact on HUGEINT, mirroring the query's pmod-strip route.  Terms are
# HASHED word 3-grams — the portable polynomial shingle hash replayed
# by _HASH_SHINGLES_CTE (multiset: repeats stay); max_df and threshold
# p/q match _q_tfidf_cosine (150, 1/2).
_TFIDF_COSINE = f"""
WITH {_HASH_SHINGLES_CTE},
tok AS (SELECT doc_id, unnest(s) AS t FROM hsh),
tc AS (SELECT doc_id AS id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
v AS (SELECT t, count(*) AS df FROM tc GROUP BY t),
n AS (SELECT count(*) AS n FROM documents),
posts AS (
  SELECT tc.id, tc.t,
         CAST(tc.tf * (1 + length(bin(n.n)) - length(bin(v.df)))
              AS HUGEINT) AS wgt
  FROM tc JOIN v USING (t) CROSS JOIN n
  WHERE v.df <= 150),
norms AS (SELECT id, sum(wgt * wgt) AS n2 FROM posts GROUP BY id),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, sum(a.wgt * b.wgt) AS dot
  FROM posts a JOIN posts b USING (t)
  WHERE a.id < b.id GROUP BY 1, 2)
SELECT d.id_a, d.id_b, CAST(d.dot AS BIGINT) AS dot,
       CAST((CAST(100000000 AS HUGEINT) * d.dot * d.dot)
            // (na.n2 * nb.n2) AS BIGINT) AS sim_sq_x1e8
FROM dots d
JOIN norms na ON na.id = d.id_a
JOIN norms nb ON nb.id = d.id_b
WHERE 4 * d.dot * d.dot >= 1 * na.n2 * nb.n2
"""

# docs_collocations: unigram/bigram multiset counts + the exp(PMI) ratio
# c_xy*T^2/(B*c_x*c_y) re-derived in HUGEINT; floor-div // mirrors the
# query's pmod-strip; min_count/topk match _q_docs_collocations (5, 50).
_DOCS_COLLOCATIONS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT unnest(ws) AS t FROM w),
uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
bgl AS (SELECT {_kgram_expr(2)} AS kgs FROM w),
bg AS (SELECT unnest(kgs) AS xy FROM bgl),
big AS (SELECT xy, count(*) AS c_xy FROM bg GROUP BY xy
        HAVING count(*) >= 5),
tt AS (SELECT CAST(count(*) AS HUGEINT) AS t_total FROM tok),
bt AS (SELECT CAST(coalesce(sum(len(kgs)), 0) AS HUGEINT) AS b_total
       FROM bgl)
SELECT b.xy AS bigram, b.c_xy, x.c AS c_x, y.c AS c_y,
       CAST((CAST(10000 AS HUGEINT) * b.c_xy * tt.t_total * tt.t_total)
            // (bt.b_total * x.c * y.c) AS BIGINT) AS pmi_ratio_x1e4
FROM big b
JOIN uni x ON x.t = split_part(b.xy, ' ', 1)
JOIN uni y ON y.t = substr(b.xy, instr(b.xy, ' ') + 1)
CROSS JOIN tt CROSS JOIN bt
ORDER BY pmi_ratio_x1e4 DESC, bigram
LIMIT 50
"""

_DOCS_DUP_SPANS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
kgl AS (SELECT doc_id, {_kgram_expr(4)} AS kgs FROM w),
sp AS (SELECT doc_id, unnest(kgs) AS s FROM kgl),
xd AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS nd
                      FROM sp GROUP BY s) WHERE nd >= 2),
tot AS (SELECT doc_id, CAST(len(kgs) AS BIGINT) AS n_spans FROM kgl),
dup AS (SELECT doc_id, count(*) AS n_dup FROM sp
        WHERE s IN (SELECT s FROM xd) GROUP BY doc_id)
SELECT t.doc_id, t.n_spans,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
       {_x1e4_sql('coalesce(d.n_dup, 0)', 't.n_spans')} AS dup_span_frac_x1e4
FROM tot t LEFT JOIN dup d USING (doc_id)
"""

_DOCS_DECONTAM = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
kg AS (SELECT doc_id, unnest(list_distinct({_kgram_expr(4)})) AS s FROM w),
bench AS (SELECT DISTINCT s FROM kg WHERE doc_id % 20 = 0)
SELECT doc_id, count(*) AS n_hits
FROM kg WHERE doc_id % 20 != 0 AND s IN (SELECT s FROM bench)
GROUP BY doc_id
"""

# same augmentation + same replacement ORDER (emails first) as the query;
# patterns live in yatsm_spark/functions/textops.py (RE2-compatible)
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_DOCS_PII = f"""
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
         THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN ' from host ' || (doc_id % 250) || '.16.' || (doc_id % 100) || '.7'
         ELSE '' END
    || CASE WHEN doc_id % 10 = 0 THEN ' cc admin@example.org' ELSE '' END AS t
  FROM documents),
r1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
         regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM aug)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t1, '{_PII_IP}')) AS INTEGER) AS n_ips,
       md5(regexp_replace(t1, '{_PII_IP}', '<IP>', 'g')) AS redacted_fp
FROM r1
"""


def _emb_ann_lsh_oracle(dim: int = 64, n_planes: int = 6, k: int = 5) -> str:
    """DuckDB twin of lsh_bucket_topk: same seeded hyperplane literals,
    same round-before-sign bucket rule, same (sim desc, n_id) ranking."""
    from yatsm_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    terms = [
        "(CASE WHEN round(list_dot_product(e, ["
        + ", ".join(repr(x) for x in plane)
        + f"]::DOUBLE[]), 6) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    bucket = "(" + " + ".join(terms) + ")"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bkt AS (SELECT vec_id, e, {bucket} AS bkt FROM v),
s AS (
  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         round(list_dot_product(q.e, n.e)
               / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6) AS sim
  FROM bkt q JOIN bkt n ON q.bkt = n.bkt AND q.vec_id != n.vec_id
  WHERE q.vec_id < 5),
r AS (
  SELECT q_id, n_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, n_id, sim, rank FROM r WHERE rank <= {k}
"""


_CS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)

_EMB_ANN_IVF = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c AS (SELECT vec_id AS cid, e AS ce FROM v
      ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8))::BIGINT, vec_id LIMIT 16),
vs AS (
  SELECT v.vec_id AS n_id, v.e AS nv, c.cid,
         {_CS.format(a='v.e', b='c.ce')} AS csim
  FROM v CROSS JOIN c),
assign AS (
  SELECT n_id, nv, cid AS cell FROM (
    SELECT n_id, nv, cid,
           row_number() OVER (PARTITION BY n_id ORDER BY csim DESC, cid ASC) AS rn
    FROM vs) WHERE rn = 1),
probes AS (
  SELECT q_id, qv, cell FROM (
    SELECT n_id AS q_id, nv AS qv, cid AS cell,
           row_number() OVER (PARTITION BY n_id ORDER BY csim DESC, cid ASC) AS rn
    FROM vs WHERE n_id < 5) WHERE rn <= 2),
s AS (
  SELECT p.q_id, a.n_id, {_CS.format(a='p.qv', b='a.nv')} AS sim
  FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id != a.n_id),
r AS (
  SELECT q_id, n_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
"""


_EMB_SEMANTIC_DEDUP = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c AS (SELECT vec_id AS cid, e AS ce FROM v
      ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8))::BIGINT, vec_id LIMIT 16),
vs AS (
  SELECT v.vec_id AS n_id, v.e AS nv, c.cid,
         {_CS.format(a='v.e', b='c.ce')} AS csim
  FROM v CROSS JOIN c),
assign AS (
  SELECT n_id, nv, cid AS cell FROM (
    SELECT n_id, nv, cid,
           row_number() OVER (PARTITION BY n_id ORDER BY csim DESC, cid ASC) AS rn
    FROM vs) WHERE rn = 1),
dup AS (
  SELECT DISTINCT b.n_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.n_id < b.n_id
  WHERE {_CS.format(a='a.nv', b='b.nv')} >= 0.4)
SELECT a.n_id AS vec_id, a.cell,
       CASE WHEN d.n_id IS NULL THEN 1 ELSE 0 END AS kept
FROM assign a LEFT JOIN dup d ON a.n_id = d.n_id
"""


_COUNTER_INCREASE_1H = f"""
WITH s AS (
  SELECT user_id, ts, event_id, CAST(floor(value * 1000000) AS BIGINT) AS vu
  FROM events),
d AS (
  SELECT user_id, ts, vu,
         lag(vu) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
  FROM s)
SELECT user_id, {_b('ts', 3600)} AS bucket_ts,
       CAST(sum(CASE WHEN pv IS NULL THEN 0
                WHEN vu - pv >= 0 THEN vu - pv
                ELSE vu END) AS BIGINT) AS increase_u,
       count(*) AS n_obs,
       CAST(sum(CASE WHEN pv IS NOT NULL AND vu - pv < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_resets
FROM d GROUP BY 1, 2
"""

_DOCS_NB_LANG = """
WITH train AS (
  SELECT doc_id, lang AS label, coalesce(text, '') AS text
  FROM documents WHERE doc_id % 5 != 0),
test AS (
  SELECT doc_id, coalesce(text, '') AS text
  FROM documents WHERE doc_id % 5 = 0),
ttok AS (SELECT doc_id, label, unnest(string_split(text, ' ')) AS token FROM train),
counts AS (SELECT label, token, count(*) AS c FROM ttok GROUP BY 1, 2),
v AS (SELECT count(DISTINCT token) AS vocab_n FROM counts),
totals AS (SELECT label, sum(c) AS total_tokens FROM counts GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM train),
dc AS (SELECT label, count(*) AS n_docs_l FROM train GROUP BY 1),
weights AS (
  SELECT label, token,
         CAST(floor(1000000 * ln((c + 1)::DOUBLE
                                 / (total_tokens + vocab_n)::DOUBLE)) AS BIGINT) AS w
  FROM counts JOIN totals USING (label) CROSS JOIN v),
labels AS (
  SELECT label,
         CAST(floor(1000000 * ln(n_docs_l::DOUBLE / n_docs::DOUBLE)) AS BIGINT) AS prior,
         CAST(floor(1000000 * ln(1.0 / (total_tokens + vocab_n)::DOUBLE)) AS BIGINT) AS oov_w
  FROM dc JOIN totals USING (label) CROSS JOIN v CROSS JOIN nd),
stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM test),
ntok AS (SELECT doc_id, count(*) AS n_tokens FROM stok GROUP BY 1),
seen AS (
  SELECT s.doc_id, w.label, sum(w.w) AS sum_w, count(*) AS n_seen
  FROM stok s JOIN weights w USING (token) GROUP BY 1, 2),
scored AS (
  SELECT n.doc_id, l.label,
         l.prior + coalesce(se.sum_w, 0)
                 + (n.n_tokens - coalesce(se.n_seen, 0)) * l.oov_w AS score
  FROM ntok n CROSS JOIN labels l
  LEFT JOIN seen se ON se.doc_id = n.doc_id AND se.label = l.label)
SELECT doc_id, label AS pred_label, CAST(score AS BIGINT) AS score FROM (
  SELECT scored.*,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
  FROM scored)
WHERE rn = 1
"""

_DOCS_LM_SCORE = """
WITH train AS (
  SELECT doc_id, coalesce(text, '') AS text
  FROM documents WHERE doc_id % 5 != 0),
test AS (
  SELECT doc_id, coalesce(text, '') AS text
  FROM documents WHERE doc_id % 5 = 0),
ttok AS (SELECT unnest(string_split(text, ' ')) AS token FROM train),
uni AS (SELECT token, count(*) AS c1 FROM ttok GROUP BY 1),
v AS (SELECT count(*) AS vocab_n FROM uni),
tw AS (SELECT string_split(text, ' ') AS ws FROM train),
tbi AS (
  SELECT unnest(list_transform(range(len(ws) - 1), i -> ws[i+1])) AS prev,
         unnest(list_transform(range(len(ws) - 1), i -> ws[i+2])) AS cur
  FROM tw WHERE len(ws) >= 2),
c2 AS (SELECT prev, cur, count(*) AS n2 FROM tbi GROUP BY 1, 2),
ctx AS (SELECT token AS prev, c1 + vocab_n AS den FROM uni CROSS JOIN v),
weights AS (
  SELECT prev, cur,
         CAST(floor(1000000 * ln((n2 + 1)::DOUBLE / den::DOUBLE)) AS BIGINT) AS w
  FROM c2 JOIN ctx USING (prev)),
prevs AS (
  SELECT prev,
         CAST(floor(1000000 * ln(1.0 / den::DOUBLE)) AS BIGINT) AS oov_w
  FROM ctx),
sw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM test),
sbi AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ws) - 1), i -> ws[i+1])) AS prev,
         unnest(list_transform(range(len(ws) - 1), i -> ws[i+2])) AS cur
  FROM sw WHERE len(ws) >= 2),
pos AS (
  SELECT s.doc_id,
         coalesce(w.w, p.oov_w,
                  CAST(floor(1000000 * ln(1.0 / (SELECT vocab_n FROM v)::DOUBLE))
                       AS BIGINT)) AS pw
  FROM sbi s
  LEFT JOIN weights w ON w.prev = s.prev AND w.cur = s.cur
  LEFT JOIN prevs p ON p.prev = s.prev),
agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(pw) AS sum_w FROM pos GROUP BY 1)
SELECT t.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(a.sum_w, 0) AS BIGINT) AS sum_w
FROM test t LEFT JOIN agg a USING (doc_id)
"""

_DOCS_DSIR_SCORE = """
WITH tgt AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents WHERE doc_id % 7 = 0),
raw AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents WHERE doc_id % 7 != 0),
tfe AS (
  SELECT unnest(list_concat(
           list_transform(hs, h -> h % 65536),
           CASE WHEN len(hs) >= 2
             THEN list_transform(range(len(hs) - 1),
                  i -> ((hs[i+1] * 1000003 + hs[i+2]) % 2147483647) % 65536)
             ELSE [] END)) AS bucket
  FROM (SELECT list_transform(string_split(text, ' '),
               t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647) AS hs
        FROM tgt)),
rfe AS (
  SELECT doc_id,
         unnest(list_concat(
           list_transform(hs, h -> h % 65536),
           CASE WHEN len(hs) >= 2
             THEN list_transform(range(len(hs) - 1),
                  i -> ((hs[i+1] * 1000003 + hs[i+2]) % 2147483647) % 65536)
             ELSE [] END)) AS bucket
  FROM (SELECT doc_id,
               list_transform(string_split(text, ' '),
               t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647) AS hs
        FROM raw)),
tc AS (SELECT bucket, count(*) AS tc FROM tfe GROUP BY 1),
rc AS (SELECT bucket, count(*) AS rc FROM rfe GROUP BY 1),
tn AS (SELECT count(*) AS t_total FROM tfe),
rn AS (SELECT count(*) AS r_total FROM rfe),
lam AS (
  SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
         CAST(floor(1000000 * ln((coalesce(tc.tc, 0) + 1)::DOUBLE
                                 / (t_total + 65536)::DOUBLE)) AS BIGINT)
       - CAST(floor(1000000 * ln((coalesce(rc.rc, 0) + 1)::DOUBLE
                                 / (r_total + 65536)::DOUBLE)) AS BIGINT) AS lam
  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket
  CROSS JOIN tn CROSS JOIN rn),
agg AS (
  SELECT f.doc_id, count(*) AS n_feats, sum(coalesce(l.lam, 0)) AS logratio_sum
  FROM rfe f LEFT JOIN lam l ON l.bucket = f.bucket GROUP BY 1)
SELECT r.doc_id,
       coalesce(a.n_feats, 0) AS n_feats,
       CAST(coalesce(a.logratio_sum, 0) AS BIGINT) AS logratio_sum
FROM raw r LEFT JOIN agg a USING (doc_id)
"""

_JSONL_INGEST = """
SELECT doc_id,
       CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END AS lang,
       CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END AS n_chars,
       CASE WHEN doc_id % 97 = 0 OR (lang IS NULL AND n_chars IS NULL)
            THEN 1 ELSE 0 END AS corrupt
FROM documents
"""


def _emb_neardup_lsh_oracle(
    dim: int = 64, n_planes: int = 8, n_tables: int = 2, threshold: float = 0.4
) -> str:
    """DuckDB twin of lsh_neardup_pairs: the SAME seeded hyperplanes are
    emitted as double literals, buckets re-derived with the same
    round-before-sign rule, candidates = same bucket in ANY table, then
    exact cosine >= threshold — a full hash-checkable oracle for the
    approximate operator (not just a subset check)."""
    from yatsm_spark.operators.similarity import _hyperplanes

    bucket_cols = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=42 + t)
        terms = [
            "(CASE WHEN round(list_dot_product(e, ["
            + ", ".join(repr(x) for x in plane)
            + f"]::DOUBLE[]), 6) >= 0 THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        ]
        bucket_cols.append("(" + " + ".join(terms) + f") AS b{t}")
    any_tbl = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bkt AS (SELECT vec_id, e, {', '.join(bucket_cols)} FROM v),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id AND ({any_tbl})),
s AS (
  SELECT id_a, id_b,
         list_dot_product(x.e, y.e)
           / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS c
  FROM cand JOIN v x ON cand.id_a = x.vec_id JOIN v y ON cand.id_b = y.vec_id)
SELECT id_a, id_b, round(c, 6) AS sim FROM s WHERE c >= {threshold}
"""


_DOCS_HASH_SPLIT = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR || '#0'), 1, 8))::BIGINT % 100 AS b
  FROM documents)
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       b < 10 AS in_10pct_sample
FROM h
"""

_URL_CANON = r"""
WITH raw AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0
              THEN 'shop.example.com/c/' || c_custkey
              WHEN c_custkey % 2 = 0
              THEN 'HTTPS://Shop.Example.COM:443/c/' || c_custkey || '?utm_src=news&b=2&a=1#frag'
              ELSE 'http://shop.example.com:80/c/' || c_custkey || '?a=1&b=2' END AS u
  FROM customer),
parts AS (
  SELECT c_custkey, u,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
         regexp_extract(u, '\?([^#]*)', 1) AS query
  FROM raw),
norm AS (
  SELECT c_custkey, u, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
             p -> p != '' AND NOT starts_with(p, 'utm_'))), '&') AS qs
  FROM parts)
SELECT c_custkey,
       CASE WHEN scheme = '' THEN u
            ELSE scheme || '://' || host || path ||
                 CASE WHEN qs != '' THEN '?' || qs ELSE '' END END AS canon_url
FROM norm
"""

_DOCS_TOKEN_REGEX = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_alpha_runs,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_digit_runs,
       CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS INTEGER) AS n_marks
FROM documents
"""

_DOCS_WINNOW = """
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(length(text) - 4, 0)),
                               i -> substr(text, CAST(i + 1 AS INTEGER), 5))) AS gram
  FROM documents)
SELECT doc_id, min(('0x' || substr(md5(gram), 1, 8))::BIGINT) AS winnow_fp
FROM g GROUP BY doc_id
"""

_CODEC_RT = f"""
SELECT user_id, count(*) AS n_points, true AS all_match
FROM (SELECT user_id, {_H} AS bucket_ts FROM events GROUP BY 1, 2)
GROUP BY user_id
"""

_BLOB_RANGE = f"""
SELECT user_id, count(*) AS n_points, true AS all_match
FROM (SELECT user_id, {_H} AS bucket_ts FROM events GROUP BY 1, 2)
WHERE bucket_ts BETWEEN '2024-01-08 00:00:00' AND '2024-01-14 23:59:59'
GROUP BY user_id
"""

_EMB_ANN = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
v AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
s AS (
  SELECT q_id, n_id,
         round(list_dot_product(qv, nv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), 6) AS sim
  FROM q CROSS JOIN v WHERE q_id != n_id),
r AS (
  SELECT q_id, n_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank
  FROM s)
SELECT q_id, n_id, sim, rank FROM r WHERE rank <= 5
"""


_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures")


def _golden(name: str, cols: str) -> str:
    """Golden-table oracle for deterministic non-SQL-expressible queries:
    the committed fixture parquet (scripts/make_golden_fixtures.py) IS the
    expected output, so the driver's value-hash compare catches any drift
    in the kernel pipeline.  Because the fixtures are generated by this
    same implementation they gate REGRESSION/drift, not absolute
    correctness; the absolute anchors are the hand-derived expected
    segmentations in tests/test_segmentation.py (planted level shifts at
    known timestamps, analytically-known segment counts/break locations)
    and tests/test_ccdc_kernels.py::test_hand_derived_* (closed-form
    two-segment series checked against pencil-and-paper OLS/monitor
    arithmetic)."""
    return f"SELECT {cols} FROM '{_FIXTURE_DIR}/{name}.parquet'"


_SEGMENTS_GOLDEN = _golden(
    "ccdc_segments_synth",
    "url, seg_id, CAST(start_ts AS TIMESTAMP) AS start_ts, "
    "CAST(end_ts AS TIMESTAMP) AS end_ts, CAST(break_ts AS TIMESTAMP) AS break_ts, "
    "n_obs, status",
)
_CHANGEMAP_GOLDEN = _golden(
    "ccdc_changemap_synth",
    "url, n_breaks, CAST(first_break AS TIMESTAMP) AS first_break, "
    "CAST(last_break AS TIMESTAMP) AS last_break",
)
_CLASSIFY_GOLDEN = _golden("ccdc_classify_synth", "url, seg_id, status, predicted_label")
_HW_GOLDEN = _golden(
    "hw_forecast_synth",
    "url, CAST(ts AS TIMESTAMP) AS ts, kind, val, fitted",
)
_STL_GOLDEN = _golden(
    "stl_decompose_synth",
    "url, CAST(ts AS TIMESTAMP) AS ts, val, trend, seasonal, remainder, is_anomaly",
)
_PHENO_GOLDEN = _golden(
    "pheno_longterm_synth",
    "url, CAST(n_obs AS BIGINT) AS n_obs, CAST(n_doy AS INTEGER) AS n_doy, "
    "CAST(peak_doy AS INTEGER) AS peak_doy, CAST(trough_doy AS INTEGER) AS trough_doy, "
    "CAST(peak_x1e4 AS BIGINT) AS peak_x1e4, CAST(amp_x1e4 AS BIGINT) AS amp_x1e4, "
    "CAST(spring_doy AS INTEGER) AS spring_doy, CAST(autumn_doy AS INTEGER) AS autumn_doy, "
    "CAST(cor_x1e4 AS BIGINT) AS cor_x1e4",
)
def _media_dims_oracle() -> str:
    """Literal-VALUES ground truth (NOT a golden fixture): the dims each
    synthesized header was built with, stated independently of the
    engine's output."""
    vals = ", ".join(
        "({d}, '{k}', {w}, {h})".format(
            d=d, k=k, w="NULL" if w is None else w, h="NULL" if h is None else h
        )
        for d, k, w, h in _media_dims_truth()
    )
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, media_kind, "
        "CAST(img_w AS INTEGER) AS img_w, CAST(img_h AS INTEGER) AS img_h "
        f"FROM (VALUES {vals}) AS t(doc_id, media_kind, img_w, img_h)"
    )


_MEDIA_DIMS = _media_dims_oracle()

_MULTIMODAL_GOLDEN = _golden(
    "multimodal_media_synth",
    "CAST(doc_id AS BIGINT) AS doc_id, media_kind, CAST(media_bytes AS BIGINT) AS media_bytes, "
    "CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, "
    "CAST(n_channels AS INTEGER) AS n_channels, thumb_md5, "
    "CAST(ahash64 AS BIGINT) AS ahash64",
)



# full clean_corpus replay: exact dedup -> LSH banding -> recursive-CTE
# connected components (>=8/16 sig agreement = sig_sim >= 0.5) -> Gopher
# dup-bigram/min-tokens gate -> PII redaction -> md5 hash split.  The
# synthesized urls are canonical + single-observation, so snapshot is
# identity; text_fp = md5 of the redacted text.
_CORPUS_E2E = f"""
WITH RECURSIVE crawl AS (
  SELECT 'https://ex.com/d' || lpad(doc_id::VARCHAR, 7, '0') AS doc_id,
         text, lang
  FROM documents),
fpt AS (SELECT doc_id, md5(text) AS fp FROM crawl),
k1 AS (SELECT min(doc_id) AS doc_id FROM fpt GROUP BY fp),
uniq AS (SELECT c.* FROM crawl c JOIN k1 USING (doc_id)),
uw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM uniq),
uth AS (SELECT doc_id,
               list_transform(ws,
                 t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647) AS hs
        FROM uw),
uhsh AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 3
           THEN list_transform(range(len(hs) - 2),
                i -> (((hs[i+1] * 1000003 + hs[i+2]) % 2147483647) * 1000003
                      + hs[i+3]) % 2147483647)
           ELSE [] END AS s
  FROM uth),
h AS (SELECT doc_id, unnest(s) AS hv FROM uhsh WHERE len(s) > 0),
sig AS (
  SELECT doc_id, i, min((hv * (2 * i + 1) + 7919 * (i + 1)) % 2147483647) AS sig_val
  FROM h CROSS JOIN (SELECT unnest(range(16)) AS i) idx
  GROUP BY doc_id, i),
bk AS (
  SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
         string_agg(sig_val::VARCHAR, ',' ORDER BY i) AS bkey
  FROM sig GROUP BY doc_id, CAST(i // 4 AS INTEGER)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
                     AND a.doc_id < b.doc_id),
agree AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN x.sig_val = y.sig_val THEN 1 ELSE 0 END) AS n_eq
  FROM cand c
  JOIN sig x ON x.doc_id = c.id_a
  JOIN sig y ON y.doc_id = c.id_b AND y.i = x.i
  GROUP BY 1, 2),
ed AS (SELECT id_a AS s, id_b AS d FROM agree WHERE n_eq >= 8
       UNION ALL SELECT id_b, id_a FROM agree WHERE n_eq >= 8),
reach(a, b2) AS (
  SELECT DISTINCT s, s FROM ed
  UNION
  SELECT r.a, e.d FROM reach r JOIN ed e ON e.s = r.b2),
cc AS (SELECT a AS doc_id, min(b2) AS cluster_id FROM reach GROUP BY a),
losers AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
dd AS (SELECT u.* FROM uniq u LEFT JOIN losers l USING (doc_id)
       WHERE l.doc_id IS NULL),
qw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM dd),
qb AS (SELECT doc_id, len(ws) AS n_tok, {_kgram_expr(2)} AS bgs FROM qw),
qq AS (SELECT doc_id, n_tok, len(bgs) AS n_bi,
              len(list_distinct(bgs)) AS n_bd FROM qb),
bad AS (SELECT doc_id FROM qq
        WHERE n_tok < 5
           OR (n_bi > 0 AND {_x1e4_sql('(n_bi - n_bd)', 'n_bi')} > 6000)),
good AS (SELECT d.* FROM dd d LEFT JOIN bad b USING (doc_id)
         WHERE b.doc_id IS NULL),
red AS (SELECT doc_id,
               regexp_replace(
                 regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IP}', '<IP>', 'g') AS rtext,
               lang
        FROM good)
SELECT doc_id, md5(rtext) AS text_fp, lang,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, rtext, lang,
             ('0x' || substr(md5(doc_id || '#0'), 1, 8))::BIGINT % 100 AS b
      FROM red)
"""



# exact-substring-dedup CUT stage: string-free k=4 span hashes with
# positions -> flagged (>=2 distinct docs) -> flatten covered index set
# -> keep uncovered tokens -> md5 of the reconstructed text
_DUP_SPAN_CUT = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
th AS (SELECT doc_id, ws,
              list_transform(ws,
                t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647) AS hs
       FROM w),
hsh AS (
  SELECT doc_id, ws,
         CASE WHEN len(hs) >= 4
           THEN list_transform(range(len(hs) - 3),
                i -> (((((hs[i+1] * 1000003 + hs[i+2]) % 2147483647) * 1000003
                      + hs[i+3]) % 2147483647) * 1000003 + hs[i+4]) % 2147483647)
           ELSE [] END AS s
  FROM th),
spn AS (
  SELECT doc_id, u['pos'] AS pos, u['h'] AS h
  FROM (SELECT doc_id,
               unnest(list_transform(range(len(s)),
                                     i -> {'pos': i, 'h': s[i+1]})) AS u
        FROM hsh WHERE len(s) > 0)),
flagged AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c FROM spn GROUP BY h)
  WHERE c >= 2),
starts AS (
  SELECT doc_id, list_sort(list(pos)) AS st
  FROM spn WHERE h IN (SELECT h FROM flagged)
  GROUP BY doc_id),
staged AS (
  SELECT h.doc_id, h.ws,
         list_distinct(flatten(list_transform(coalesce(s.st, []),
                                              x -> range(x, x + 4)))) AS cov
  FROM hsh h LEFT JOIN starts s ON h.doc_id = s.doc_id),
kept AS (
  SELECT doc_id, ws,
         list_filter(range(len(ws)), i -> NOT list_contains(cov, i)) AS ki
  FROM staged)
SELECT doc_id,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark's
       -- array_join: coalesce so fully-cut docs hash like Spark's
       md5(coalesce(array_to_string(list_transform(ki, i -> ws[i+1]), ' '), ''))
         AS cut_fp,
       len(ki)::BIGINT AS n_tokens_kept,
       (len(ws) - len(ki))::BIGINT AS n_tokens_cut
FROM kept
"""

# hist_p95_1d: re-derive the sketch percentile algebra from RAW events —
# a green row proves the 1h->1d sketch MERGE exact (the oracle never
# builds the intermediate tier).  hb = value_u // width (nonneg values);
# target rank = ceil(total*q/100); percentile = lower edge of the first
# bucket whose running count reaches it.
_HIST_P95_1D = f"""
WITH hbs AS (
  SELECT user_id, {_b("ts", 86400)} AS bucket_ts,
         CAST(floor(value * 1000000) AS BIGINT) // 10000000 AS hb,
         count(*) AS c
  FROM events GROUP BY 1, 2, 3),
tot AS (SELECT user_id, bucket_ts, sum(c)::BIGINT AS total FROM hbs GROUP BY 1, 2),
cum AS (
  SELECT user_id, bucket_ts, hb,
         sum(c) OVER (PARTITION BY user_id, bucket_ts ORDER BY hb) AS cum
  FROM hbs),
p50 AS (
  SELECT c.user_id, c.bucket_ts, min(c.hb) AS hb
  FROM cum c JOIN tot t USING (user_id, bucket_ts)
  WHERE c.cum >= (t.total * 50 + 99) // 100 GROUP BY 1, 2),
p95 AS (
  SELECT c.user_id, c.bucket_ts, min(c.hb) AS hb
  FROM cum c JOIN tot t USING (user_id, bucket_ts)
  WHERE c.cum >= (t.total * 95 + 99) // 100 GROUP BY 1, 2)
SELECT t.user_id, t.bucket_ts, t.total,
       p50.hb * 10000000 AS p50_u, p95.hb * 10000000 AS p95_u
FROM tot t
JOIN p50 USING (user_id, bucket_ts) JOIN p95 USING (user_id, bucket_ts)
"""


# kmv_distinct_1d: re-derive the KMV algebra from RAW events — DISTINCT
# portable 32-bit hashes per (event_type, day), rank, keep bottom 32,
# exact count below k / floor((k-1)*2^32 / kth_min) at k.  A green row
# proves the 1h->1d sketch MERGE exact (the oracle never builds the
# intermediate tier).
_KMV_DISTINCT_1D = f"""
WITH hv AS (
  SELECT DISTINCT event_type, {_b("ts", 86400)} AS bucket_ts,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM events),
rk AS (
  SELECT event_type, bucket_ts, hv,
         row_number() OVER (PARTITION BY event_type, bucket_ts ORDER BY hv) AS rn
  FROM hv),
sk AS (
  SELECT event_type, bucket_ts, count(*)::BIGINT AS sz,
         max(CASE WHEN rn = 32 THEN hv END) AS kth
  FROM rk WHERE rn <= 32 GROUP BY 1, 2)
SELECT event_type, bucket_ts,
       CASE WHEN sz < 32 THEN sz
            ELSE (31 * 4294967296) // greatest(kth, 1) END AS ndv_est,
       sz AS sketch_size
FROM sk
"""

# anomaly_zscore_24: identical cross-multiplied integer comparison; the
# trailing sums run in HUGEINT (the Spark side uses decimal(38,0)).
_ANOMALY_Z24 = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS value_u
  FROM events),
w AS (
  SELECT user_id, ts, event_id, value_u,
         count(value_u) OVER win AS n_win,
         sum(CAST(value_u AS HUGEINT)) OVER win AS s,
         sum(CAST(value_u AS HUGEINT) * CAST(value_u AS HUGEINT)) OVER win AS ssq
  FROM v
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT user_id, ts, event_id, value_u, n_win::BIGINT AS n_win,
       CASE WHEN n_win >= 8
              AND (value_u * n_win - s) * (value_u * n_win - s)
                  > 9 * (n_win * ssq - s * s)
            THEN 1 ELSE 0 END AS is_anom
FROM w
"""

# ewma_events: the IDENTICAL int64 recursion replayed per key in a
# recursive CTE (each iteration advances every key one observation);
# floor-div via nonneg-remainder subtraction so the exactly-divisible
# quotient is truncation-safe.
_EWMA_EVENTS = """
WITH RECURSIVE obs AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS value_u,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, ts, event_id, value_u, rn, value_u AS ewma_u
  FROM obs WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.ts, o.event_id, o.value_u, o.rn,
         r.ewma_u + ((o.value_u - r.ewma_u)
                     - (((o.value_u - r.ewma_u) % 4 + 4) % 4)) // 4
  FROM rec r JOIN obs o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
SELECT user_id, ts, event_id, value_u, ewma_u FROM rec
"""

# docs_paragraph_dedup: the oracle groups raw paragraph STRINGS (the
# Spark side shuffles 64-bit hashes — semantics are on content).
_DOCS_PARA_DEDUP = """
WITH base AS (
  SELECT doc_id,
         string_split(replace(coalesce(text, ''), ' table ',
                              ' table' || chr(10)), chr(10)) AS ls
  FROM documents),
paras AS (
  SELECT doc_id, unnest(ls) AS ln, generate_subscripts(ls, 1) AS pos
  FROM base),
hot AS (
  SELECT ln FROM (SELECT ln, count(DISTINCT doc_id) AS nd FROM paras GROUP BY ln)
  WHERE nd > 1),
drops AS (SELECT p.doc_id, p.pos FROM paras p JOIN hot USING (ln)),
kept AS (
  SELECT p.doc_id, p.pos, p.ln
  FROM paras p LEFT JOIN drops d ON d.doc_id = p.doc_id AND d.pos = p.pos
  WHERE d.doc_id IS NULL),
agg AS (
  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS ct, count(*) AS c
  FROM kept GROUP BY doc_id)
SELECT b.doc_id, md5(coalesce(a.ct, '')) AS clean_md5,
       len(b.ls)::BIGINT AS n_paras,
       (len(b.ls) - coalesce(a.c, 0))::BIGINT AS n_dropped
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# twa_1h: LOCF time-weighted average — lead(ts) capped at bucket end,
# weighted sum in HUGEINT (Spark: decimal(38,0)), exact floor division.
_TWA_1H = f"""
WITH v AS (
  SELECT user_id, ts, event_id,
         {_b("ts", 3600)} AS bucket_ts,
         CAST(floor(value * 1000000) AS BIGINT) AS vu,
         epoch_us(ts) AS tu,
         (CAST(floor(epoch(ts) / 3600) AS BIGINT) + 1) * 3600 * 1000000 AS end_u
  FROM events),
seg AS (
  SELECT user_id, bucket_ts, vu, tu,
         least(coalesce(lead(tu) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), end_u),
               end_u) - tu AS dt
  FROM v),
agg AS (
  SELECT user_id, bucket_ts,
         sum(CAST(vu AS HUGEINT) * CAST(dt AS HUGEINT)) AS sc,
         sum(CAST(dt AS HUGEINT)) AS cov,
         count(*) AS n_obs
  FROM seg GROUP BY 1, 2)
SELECT user_id, bucket_ts,
       ((sc - ((sc % cov + cov) % cov)) // cov)::BIGINT AS twa_u,
       cov::BIGINT AS covered_us, n_obs
FROM agg
"""

# state_durations_1h / uptime_1h: the same lead-capped integer-
# microsecond segment algebra as _TWA_1H, grouped by state (durations)
# or clipped additionally at tu + liveness (interval-union uptime).
_STATE_DUR_1H = f"""
WITH v AS (
  SELECT user_id, ts, event_id, event_type AS state,
         {_b("ts", 3600)} AS bucket_ts,
         epoch_us(ts) AS tu,
         (CAST(floor(epoch(ts) / 3600) AS BIGINT) + 1) * 3600 * 1000000 AS end_u
  FROM events),
seg AS (
  SELECT user_id, bucket_ts, state,
         least(coalesce(lead(tu) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), end_u),
               end_u) - tu AS dt
  FROM v)
SELECT user_id, bucket_ts, state,
       sum(dt)::BIGINT AS dur_us, count(*) AS n_obs
FROM seg GROUP BY 1, 2, 3
"""

_UPTIME_1H = f"""
WITH v AS (
  SELECT user_id, ts, event_id,
         {_b("ts", 3600)} AS bucket_ts,
         epoch_us(ts) AS tu,
         (CAST(floor(epoch(ts) / 3600) AS BIGINT) + 1) * 3600 * 1000000 AS end_u
  FROM events),
seg AS (
  SELECT user_id, bucket_ts,
         least(coalesce(lead(tu) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), tu + 600000000),
               tu + 600000000, end_u) - tu AS up,
         least(coalesce(lead(tu) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id), end_u),
               end_u) - tu AS cov
  FROM v)
SELECT user_id, bucket_ts,
       sum(up)::BIGINT AS up_us, count(*) AS n_beats,
       (sum(cov) - sum(up))::BIGINT AS gap_us
FROM seg GROUP BY 1, 2
"""

# emb_kmeans: the SAME integer Lloyd's iteration unrolled in SQL —
# quantize, assign to the hash-stratified seeds (integer squared-L2,
# ties to smallest cid), update centroids with the pmod-exact floor-div,
# reassign.  Component sums run in HUGEINT (Spark: bigint + decimal div).
_EMB_KMEANS = """
WITH pts AS (
  SELECT vec_id AS n_id,
         list_transform(embedding,
                        x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS xu
  FROM embeddings),
c0 AS (
  SELECT n_id AS cid, xu AS cu FROM pts
  ORDER BY ('0x' || substr(md5(CAST(n_id AS VARCHAR)), 1, 8))::BIGINT, n_id
  LIMIT 8),
d1 AS (
  SELECT p.n_id, p.xu, c.cid,
         list_sum(list_transform(list_zip(p.xu, c.cu),
                                 z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
  FROM pts p CROSS JOIN c0 c),
a1 AS (
  SELECT n_id, xu, cid AS cluster FROM (
    SELECT n_id, xu, cid,
           row_number() OVER (PARTITION BY n_id ORDER BY d2, cid) AS rn
    FROM d1) WHERE rn = 1),
n1 AS (SELECT cluster, count(*) AS n FROM a1 GROUP BY 1),
e1 AS (
  SELECT cluster, generate_subscripts(xu, 1) AS pos, unnest(xu) AS vu
  FROM a1),
c1 AS (
  SELECT s.cluster AS cid,
         list((s.sv - ((s.sv % n1.n + n1.n) % n1.n)) // n1.n ORDER BY s.pos) AS cu
  FROM (SELECT cluster, pos, sum(vu) AS sv FROM e1 GROUP BY 1, 2) s
  JOIN n1 USING (cluster)
  GROUP BY s.cluster),
d2s AS (
  SELECT p.n_id, c.cid,
         list_sum(list_transform(list_zip(p.xu, c.cu),
                                 z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
  FROM pts p CROSS JOIN c1 c)
SELECT n_id, cid AS cluster, CAST(d2 AS BIGINT) AS d2 FROM (
  SELECT n_id, cid, d2,
         row_number() OVER (PARTITION BY n_id ORDER BY d2, cid) AS rn
  FROM d2s) WHERE rn = 1
"""


_FUNNEL_VCP = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT s1.user_id, t1, t2, t3,
       1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS steps_completed
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s2.user_id = s3.user_id
"""

_COHORT_RETENTION = f"""
WITH kb AS (
  SELECT DISTINCT user_id, {_b("ts", 86400)} AS b FROM events),
f AS (SELECT user_id, min(b) AS cohort_ts FROM kb GROUP BY 1)
SELECT cohort_ts,
       CAST((epoch(b) - epoch(cohort_ts)) / 86400 AS INT) AS "offset",
       count(*) AS n_active
FROM kb JOIN f USING (user_id) GROUP BY 1, 2
"""

_INTERVAL_PURCHASE_AFTER_ERROR = """
WITH err AS (
  SELECT user_id, event_id AS error_id, ts AS start_ts,
         ts + INTERVAL 1 HOUR AS end_ts
  FROM events WHERE event_type = 'error'),
p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.ts, p.user_id, err.error_id, err.start_ts, err.end_ts
FROM p JOIN err ON p.user_id = err.user_id
               AND err.start_ts <= p.ts AND p.ts < err.end_ts
"""

# hampel_12: the identical lower-median / MAD algebra replayed on the
# list() window (NULL on the empty frame — coalesce to 0 like Spark's
# empty collect_list).  All bigint; DuckDB lists are 1-based like
# element_at.
_HAMPEL_12 = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS value_u
  FROM events),
w AS (
  SELECT user_id, ts, event_id, value_u, list(value_u) OVER win AS arr
  FROM v
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
m AS (
  SELECT *, coalesce(len(arr), 0)::BIGINT AS n_win,
         CASE WHEN len(arr) > 0
              THEN list_sort(arr)[(len(arr) + 1) // 2] END AS med
  FROM w),
d AS (
  SELECT *, CASE WHEN n_win > 0
                 THEN list_sort(list_transform(arr, x -> abs(x - med)))
                      [(n_win + 1) // 2] END AS mad
  FROM m)
SELECT user_id, ts, event_id, value_u, n_win,
       CASE WHEN n_win >= 8 AND abs(value_u - med) > 3 * mad
            THEN 1 ELSE 0 END AS is_anom
FROM d
"""

# wau_7d: trailing-7-day exact distinct actives per observed day — the
# same offset-explode membership construction (a (user, day) activity
# row belongs to the 7 windows that contain it).
_WAU_7D = f"""
WITH ud AS (
  SELECT DISTINCT user_id, {_b("ts", 86400)} AS d FROM events),
offs AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o),
tgt AS (
  SELECT DISTINCT ud.user_id,
         make_timestamp((CAST(epoch(ud.d) AS BIGINT) + o.o * 86400) * 1000000) AS d
  FROM ud, offs o),
a7 AS (SELECT d, count(*)::BIGINT AS active_7d FROM tgt GROUP BY 1),
a1 AS (SELECT d, count(*)::BIGINT AS active_1d FROM ud GROUP BY 1)
SELECT a1.d AS bucket_ts, a1.active_1d, a7.active_7d
FROM a1 JOIN a7 USING (d)
"""

# cm_topk_1d: re-derive the count-min algebra from RAW events — per-day
# cells at column ((h*(2r+1) + 7919*(r+1)) % 2147483647) % 64 for r in
# 0..3 with h = ONE md5-derived base hash per item (the affine-rehash
# form sketch._cm_idx uses — one md5 per item, not one per depth row),
# exact per-hour top-8 candidates, estimate = min over rows, rank
# (est desc, item asc) <= 5.  A green row proves the 1h->1d
# counter-matrix MERGE exact (the oracle never builds the intermediate
# tier).
_CM_TOPK_1D = f"""
WITH cnt1h AS (
  SELECT event_type, {_b("ts", 3600)} AS b1h,
         CAST(user_id AS VARCHAR) AS item, count(*) AS c
  FROM events GROUP BY 1, 2, 3),
cand AS (
  SELECT DISTINCT event_type, {_b("b1h", 86400)} AS bucket_ts, item
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type, b1h
                                     ORDER BY c DESC, item) AS rn
        FROM cnt1h)
  WHERE rn <= 8),
cntd AS (
  SELECT event_type, {_b("ts", 86400)} AS bucket_ts,
         CAST(user_id AS VARCHAR) AS item, count(*) AS c,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events GROUP BY 1, 2, 3),
cells AS (
  SELECT event_type, bucket_ts, r.r AS r,
         ((h * (2 * r.r + 1) + 7919 * (r.r + 1)) % 2147483647) % 64
           AS cidx,
         sum(c)::BIGINT AS cell
  FROM cntd, (SELECT unnest([0, 1, 2, 3]) AS r) r
  GROUP BY 1, 2, 3, 4),
ch AS (
  SELECT *, CAST(('0x' || substr(md5(item), 1, 8)) AS BIGINT) AS h
  FROM cand),
est AS (
  SELECT cd.event_type, cd.bucket_ts, cd.item, min(cl.cell)::BIGINT AS est_cnt
  FROM ch cd
  JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rr ON true
  JOIN cells cl
    ON cl.event_type = cd.event_type AND cl.bucket_ts = cd.bucket_ts
   AND cl.r = rr.r
   AND cl.cidx = ((cd.h * (2 * rr.r + 1) + 7919 * (rr.r + 1))
                  % 2147483647) % 64
  GROUP BY 1, 2, 3),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, bucket_ts
                               ORDER BY est_cnt DESC, item) AS rk
  FROM est)
SELECT event_type, bucket_ts, item, est_cnt, rk FROM rk WHERE rk <= 5
"""


def oracle_sql() -> dict[str, str]:
    return {
        "rollup_1h": _ROLLUP_1H,
        "cascade_1d": _CASCADE_1D,
        "cascade_30d": _CASCADE_30D,
        "retention_1h": _RETENTION_1H,
        # the merged-partial-rollups query must equal the FULL rollup —
        # the strongest possible oracle for the incremental algebra
        # (integer-scaled so the equality is exact, not up-to-ulp):
        "incr_merge_1h": _INCR_MERGE_1H,
        "stitch_range": _STITCH_RANGE,
        "gap_fill_1h": _GAP_FILL_1H,
        "locf_1h": _LOCF_1H,
        "interp_linear_1h": _INTERP_1H,
        "m4_daily": _M4_DAILY,
        "docs_chunk_windows": _DOCS_CHUNKS,
        "docs_c4_filter": _DOCS_C4,
        "percentile_daily": _PERCENTILE_DAILY,
        "ohlc_daily": _OHLC_DAILY,
        "sliding_mean_24h": _SLIDING_24H,
        "sessionize_30m": _SESSIONIZE,
        "window_deltas": _WINDOW_DELTAS,
        "asof_prev_purchase": _ASOF,
        "asof_nearest_purchase": _ASOF_NEAREST,
        "topk_users": _TOPK,
        "event_type_daily": _EVENT_TYPE_DAILY,
        "grouping_rollup": _GROUPING_ROLLUP,
        "distinct_users_exact": _DISTINCT_USERS,
        "anti_join_orders_no_hiqty": _ANTI,
        "semi_join_highvalue": _SEMI,
        "bcast_revenue_by_nation": _BCAST,
        "except_day1_not_daylast": _EXCEPT,
        "harmonic_projection": _HARMONIC,
        "pricing_summary": _PRICING,
        "docs_lang_dist": _DOCS_LANG_DIST,
        "docs_text_quality": _DOCS_QUALITY,
        "docs_lang_id": _DOCS_LANG_ID,
        "docs_exact_dedup": _DOCS_DEDUP,
        "docs_fingerprint": _DOCS_FP,
        "docs_jaccard_pairs": _DOCS_JACCARD,
        "docs_minhash_sigs": _DOCS_MINHASH,
        "docs_simhash32": _DOCS_SIMHASH,
        "simhash_neardup": _SIMHASH_NEARDUP,
        "emb_norms": _EMB_NORMS,
        "emb_ann_topk": _EMB_ANN,
        "emb_cosine_neardup": _EMB_NEARDUP,
        "emb_neardup_lsh": _emb_neardup_lsh_oracle(n_planes=4, n_tables=4),
        "emb_semantic_dedup": _EMB_SEMANTIC_DEDUP,
        "counter_increase_1h": _COUNTER_INCREASE_1H,
        "jsonl_ingest": _JSONL_INGEST,
        "docs_nb_lang": _DOCS_NB_LANG,
        "docs_lm_score": _DOCS_LM_SCORE,
        "docs_dsir_score": _DOCS_DSIR_SCORE,
        "docs_token_regex": _DOCS_TOKEN_REGEX,
        "url_canonicalize": _URL_CANON,
        "docs_hash_split": _DOCS_HASH_SPLIT,
        "docs_winnow_fp": _DOCS_WINNOW,
        "codec_roundtrip": _CODEC_RT,
        "blob_range_read": _BLOB_RANGE,
        "salted_event_stats": _SALTED,
        # golden-table oracles (committed fixture parquet == expected
        # output; kernels not SQL-expressible but fully deterministic):
        "ccdc_segments_synth": _SEGMENTS_GOLDEN,
        "ccdc_changemap_synth": _CHANGEMAP_GOLDEN,
        "ccdc_classify_synth": _CLASSIFY_GOLDEN,
        # multimodal: magic sniffing + BMP decode are exact; the fake
        # decoder for non-BMP rows is seeded-deterministic, so the whole
        # output is fixture-stable:
        "multimodal_media_synth": _MULTIMODAL_GOLDEN,
        "media_dims_synth": _MEDIA_DIMS,
        "pheno_longterm_synth": _PHENO_GOLDEN,
        "stl_decompose_synth": _STL_GOLDEN,
        "hw_forecast_synth": _HW_GOLDEN,
        # approximate-but-DETERMINISTIC ops, fully reproduced in SQL:
        "minhash_lsh_pairs": _MINHASH_LSH,
        "minhash_lsh_guarded": _MINHASH_LSH_GUARDED,
        "docs_content_drift": _DOCS_CONTENT_DRIFT,
        "neardup_clusters": _NEARDUP_CLUSTERS,
        "corpus_clean_e2e": _CORPUS_E2E,
        "docs_dup_span_cut": _DUP_SPAN_CUT,
        "hist_p95_1d": _HIST_P95_1D,
        "anomaly_zscore_24": _ANOMALY_Z24,
        "ewma_events": _EWMA_EVENTS,
        "docs_paragraph_dedup": _DOCS_PARA_DEDUP,
        "emb_kmeans": _EMB_KMEANS,
        "twa_1h": _TWA_1H,
        "state_durations_1h": _STATE_DUR_1H,
        "uptime_1h": _UPTIME_1H,
        "kmv_distinct_1d": _KMV_DISTINCT_1D,
        "hampel_12": _HAMPEL_12,
        "wau_7d": _WAU_7D,
        "cm_topk_1d": _CM_TOPK_1D,
        "funnel_view_click_purchase": _FUNNEL_VCP,
        "cohort_retention_daily": _COHORT_RETENTION,
        "interval_purchase_after_error": _INTERVAL_PURCHASE_AFTER_ERROR,
        "docs_pii_redact": _DOCS_PII,
        "docs_repetition": _DOCS_REPETITION,
        "docs_decontam": _DOCS_DECONTAM,
        "docs_top_quartile": _DOCS_TOP_QUARTILE,
        "docs_domain_cap": _DOCS_DOMAIN_CAP,
        "docs_pack_budget": _DOCS_PACK_BUDGET,
        "docs_tfidf_terms": _DOCS_TFIDF,
        "docs_commonness": _DOCS_COMMONNESS,
        "tfidf_cosine": _TFIDF_COSINE,
        "docs_collocations": _DOCS_COLLOCATIONS,
        "docs_dup_spans": _DOCS_DUP_SPANS,
        "emb_ann_lsh": _emb_ann_lsh_oracle(),
        "emb_ann_ivf": _EMB_ANN_IVF,
    }
