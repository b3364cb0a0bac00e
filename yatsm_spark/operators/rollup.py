"""Continuous-aggregate rollup tiers over per-url crawl series.

Operators (SURVEY.md §2.2/§2.4):
  * :func:`series_clean`   — F1 valid-range, F2 categorical mask, F3 dedup
  * :func:`rollup`         — A1 tumbling-window rollup + A3 lang distribution
  * :func:`cascade`        — A2 tier re-aggregation (1h -> 1d -> 30d), exact
  * :func:`gap_fill`       — A4 materialize missing intervals (cnt=0 rows);
    fill them by last observation with ``series.locf_series``

Reference analog: YATSM has no rollup (it consumes raw irregular series);
these implement the north_star's "continuous aggregates at 1h/1d/30d
retention tiers via window aggregates" (BASELINE.json:6).

Scale notes (100 TB design):
  * The rollup is ONE shuffle on (url, bucket, lang); Spark plans
    partial HashAggregate -> Exchange -> final HashAggregate, so map-side
    combine absorbs the hot-domain skew before the wire for count/sum/min/max.
    For truly pathological keys use operators/salt.py (explicit two-stage).
  * Tier schemas carry cnt+sum so coarser tiers re-aggregate EXACTLY —
    mean-of-means is wrong under uneven bucket counts; mean_len is derived.
  * Scans must never touch ``html`` (~most bytes): rollups select only
    (url, warc_ts, text, lang) and only length(text); Catalyst prunes the
    rest out of the Parquet scan (asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TIERS = {"1h": "1 hour", "1d": "1 day", "30d": "30 days"}
# seconds per tier (30d tier is a fixed 30-day epoch-aligned bucket)
TIER_SECONDS = {"1h": 3600, "1d": 86400, "30d": 30 * 86400}


def bucket_col(ts_col: str, tier: str) -> F.Column:
    """Epoch-aligned tumbling bucket start (same arithmetic as
    ``F.window(ts, interval)``, origin 1970-01-01 UTC, exposed as a plain
    timestamp so it cascades / joins / oracle-checks trivially)."""
    secs = TIER_SECONDS[tier]
    return F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs).cast("long")
    )


# sum_ts = sum of observation unix epochs: lets downstream model fits use
# the true mean observation time per bucket instead of the bucket label
# (an obs at 23:59 belongs to this bucket but NOT at this bucket's start
# time — fitting at the label aliases any sub-period signal).
CORE_COLS = ["url", "bucket_ts", "cnt", "sum_len", "mean_len", "min_len", "max_len", "sum_ts"]


def series_clean(crawl: DataFrame, keep_text: bool = True) -> DataFrame:
    """F1+F2+F3: validity mask and duplicate-(url, warc_ts) dedup.

    Reference analog: valid-range mask (yatsm/_cyprep.pyx::get_valid_mask
    [U]) + Fmask categorical screen + duplicate-date drop in
    yatsm/cli/line.py [U].  Deterministic tie-break: keep the longest
    text, then the smallest md5 — content-derived, so results are
    partition-order and cluster-size invariant.

    Physical plan: the dedup is an AGGREGATE (min over a
    (-text_len, md5, ...) struct — struct ordering realizes the
    tie-break), not a row_number window.  Struct buffers are not
    hash-aggregable so Spark plans a partial/final SortAggregate pair:
    still map-side combined before the shuffle, and the partial sort is
    per-partition on the group key — unlike a window, no per-key global
    ordering is required.

    ``keep_text=False`` is the rollup fast path: text is reduced to
    (length, md5) BEFORE the dedup shuffle, so ~60 bytes/row move instead
    of the full payload (~30x less shuffle at 2 KiB average text — the
    difference between shuffling 100 TB and 3 TB at design scale).  Both
    modes pick the identical winner.
    """
    base = crawl.select("url", "warc_ts", "text", "lang").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    key = [
        (-F.length("text")).cast("long").alias("neg_len"),
        F.md5("text").alias("fp"),
    ]
    if keep_text:
        winner = F.min(F.struct(*key, F.col("text"), F.col("lang"))).alias("_s")
        carried = [F.col("_s.text").alias("text"), F.col("_s.lang").alias("lang")]
    else:
        winner = F.min(F.struct(*key, F.col("lang"))).alias("_s")
        carried = [F.col("_s.lang").alias("lang")]
    return (
        base.groupBy("url", "warc_ts")
        .agg(winner)
        .select(
            "url",
            "warc_ts",
            *carried,
            (-F.col("_s.neg_len")).cast("long").alias("text_len"),
        )
    )


def rollup(clean: DataFrame, tier: str = "1h") -> DataFrame:
    """A1+A3: per-(url, bucket) count/sum/mean/min/max of text_len and the
    language distribution as a deterministic ``map<string,bigint>``.

    One shuffle: groupBy (url, bucket_ts, lang) with partial aggregation,
    then a narrow re-agg to (url, bucket_ts) — the second groupBy keys are
    a prefix of the first, so AQE/EnsureRequirements avoids a second full
    exchange of the raw data (only the tiny lang-level rows move).
    """
    by_lang = clean.groupBy(
        "url", bucket_col("warc_ts", tier).alias("bucket_ts"), "lang"
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("text_len").alias("sum_len"),
        F.min("text_len").alias("min_len"),
        F.max("text_len").alias("max_len"),
        F.sum(F.unix_timestamp("warc_ts")).alias("sum_ts"),
    )
    return (
        by_lang.groupBy("url", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_len").alias("sum_len"),
            F.min("min_len").alias("min_len"),
            F.max("max_len").alias("max_len"),
            F.sum("sum_ts").alias("sum_ts"),
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("lang", "cnt")))
            ).alias("lang_dist"),
        )
        .withColumn("mean_len", F.col("sum_len") / F.col("cnt"))
        .withColumn("gap_filled", F.lit(False))
        .select(*CORE_COLS, "lang_dist", "gap_filled")
    )


def cascade(finer: DataFrame, tier: str) -> DataFrame:
    """A2: re-aggregate a finer tier into ``tier`` EXACTLY.

    cnt/sum/min/max compose; mean is re-derived from sums; lang_dist maps
    are exploded and re-summed (map merge is order-insensitive because the
    final map is built from a sorted entry list).  Gap rows (cnt=0) are
    excluded so fills never pollute coarser tiers.
    """
    real = finer.filter(~F.col("gap_filled"))
    core = real.groupBy("url", bucket_col("bucket_ts", tier).alias("bucket_ts")).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_len").alias("sum_len"),
        F.min("min_len").alias("min_len"),
        F.max("max_len").alias("max_len"),
        F.sum("sum_ts").alias("sum_ts"),
    )
    langs = (
        real.select(
            "url",
            bucket_col("bucket_ts", tier).alias("bucket_ts"),
            F.explode("lang_dist").alias("lang", "lang_cnt"),
        )
        .groupBy("url", "bucket_ts", "lang")
        .agg(F.sum("lang_cnt").alias("lang_cnt"))
        .groupBy("url", "bucket_ts")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("lang", "lang_cnt")))
            ).alias("lang_dist")
        )
    )
    # core and langs shuffle on the same (url, bucket_ts) keys, so the join
    # reuses the exchange (no third shuffle of the fine-tier data).
    return (
        core.join(langs, ["url", "bucket_ts"])
        .withColumn("mean_len", F.col("sum_len") / F.col("cnt"))
        .withColumn("gap_filled", F.lit(False))
        .select(*CORE_COLS, "lang_dist", "gap_filled")
    )


def gap_fill(tier_df: DataFrame, tier: str) -> DataFrame:
    """A4: materialize missing buckets between each url's first and last
    observed bucket as cnt=0 rows flagged ``gap_filled = true``.

    Join-free formulation: per url, ``lead(bucket_ts)`` (one window shuffle
    on url) then ``explode(sequence(bucket+step, next-step))`` generates the
    fill rows map-side — no expected-grid build, no second shuffle, scales
    with the number of GAPS not the grid size.  (Equivalent of the
    grid LEFT JOIN in SURVEY.md J1, chosen over it for shuffle count.)
    """
    secs = TIER_SECONDS[tier]
    w = Window.partitionBy("url").orderBy("bucket_ts")
    gaps = (
        tier_df.withColumn("_next", F.lead("bucket_ts").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.unix_timestamp("_next") - F.unix_timestamp("bucket_ts") > secs)
        )
        .select(
            "url",
            F.explode(
                F.sequence(
                    F.col("bucket_ts") + F.make_interval(secs=F.lit(float(secs))),
                    F.col("_next") - F.make_interval(secs=F.lit(float(secs))),
                    F.make_interval(secs=F.lit(float(secs))),
                )
            ).alias("bucket_ts"),
        )
        .withColumn("cnt", F.lit(0).cast("long"))
        .withColumn("sum_len", F.lit(0).cast("long"))
        .withColumn("mean_len", F.lit(None).cast("double"))
        .withColumn("min_len", F.lit(None).cast("long"))
        .withColumn("max_len", F.lit(None).cast("long"))
        .withColumn("sum_ts", F.lit(None).cast("long"))
        .withColumn("lang_dist", F.lit(None).cast("map<string,bigint>"))
        .withColumn("gap_filled", F.lit(True))
        .select(*CORE_COLS, "lang_dist", "gap_filled")
    )
    return tier_df.unionByName(gaps)


# ------------------------------------------------------------- retention

# Default keep-windows per tier (north_rule: "rollup + downsample +
# RETENTION engine").  Finer tiers age out once the coarser tier covers
# them; the coarsest tier is kept forever (None).
RETENTION_DEFAULTS = {"1h": "7 days", "1d": "90 days", "30d": None}


def apply_retention(
    tier_df: DataFrame,
    keep: str | None,
    ts_col: str = "bucket_ts",
    anchor=None,
) -> DataFrame:
    """Retention enforcement for one tier: keep only buckets newer than
    ``anchor - keep`` (e.g. ``'7 days'`` on the 1h tier once the 1d tier
    covers the history).  ``keep=None`` keeps everything.

    ``anchor`` defaults to the tier's own max bucket (data-anchored, so
    results are deterministic and test/oracle-reproducible); pass a
    timestamp literal for wall-clock-anchored production runs.  The anchor
    subquery is a single-row broadcast join, never a window-over-() (which
    would serialize the table through one partition).

    Scale note: on the partitioned layout the SAME predicate on ``p_day``
    prunes whole partitions — retention becomes a metadata-only partition
    drop (Iceberg `expire`/`delete where p_day < cutoff`), not a rewrite;
    jobs should therefore retain on the partition column when present.
    """
    if keep is None:
        return tier_df
    if anchor is None:
        mx = tier_df.select(F.max(ts_col).alias("_anchor"))
        out = tier_df.join(F.broadcast(mx))
    else:
        out = tier_df.withColumn("_anchor", F.lit(anchor).cast("timestamp"))
    cond = F.col(ts_col) > F.col("_anchor") - F.expr(f"INTERVAL {keep}")
    if "p_day" in tier_df.columns:
        # partition-prunable twin of the bucket predicate (p_day is DATE)
        cond = cond & (
            F.col("p_day") >= F.to_date(F.col("_anchor") - F.expr(f"INTERVAL {keep}"))
        )
    return out.filter(cond).drop("_anchor")


def merge_tiers(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental continuous-aggregate maintenance: fold a delta tier
    (rollup of NEW crawl rows only) into a stored tier — no raw-history
    re-read.  Exact because every tier stat is algebraic: cnt/sum_len/
    sum_ts add, min/max combine, mean re-derives, and lang_dist maps merge
    entry-wise (rebuilt from sorted entries, preserving the deterministic
    map layout the oracles hash).

    Gap rows are excluded from both sides (re-materialize with gap_fill
    after merging — a bucket that WAS a gap may now have data).  One
    shuffle on (url, bucket_ts); at scale the stored side arrives
    partition-pruned to the delta's touched p_days.
    """
    cols = ["url", "bucket_ts", "cnt", "sum_len", "min_len", "max_len",
            "sum_ts", "lang_dist"]

    def _bare(df: DataFrame) -> DataFrame:
        if "gap_filled" in df.columns:
            df = df.filter(~F.col("gap_filled"))
        return df.select(*cols)

    both = _bare(stored).unionByName(_bare(delta))
    merged_map = F.map_from_entries(
        F.array_sort(
            F.map_entries(
                F.aggregate(
                    F.collect_list("lang_dist"),
                    F.create_map().cast("map<string,bigint>"),
                    lambda acc, m: F.map_zip_with(
                        acc, m,
                        lambda _k, v1, v2: F.coalesce(v1, F.lit(0).cast("bigint"))
                        + F.coalesce(v2, F.lit(0).cast("bigint")),
                    ),
                )
            )
        )
    )
    return (
        both.groupBy("url", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_len").alias("sum_len"),
            F.min("min_len").alias("min_len"),
            F.max("max_len").alias("max_len"),
            F.sum("sum_ts").alias("sum_ts"),
            merged_map.alias("lang_dist"),
        )
        .withColumn("mean_len", F.col("sum_len") / F.col("cnt"))
        .withColumn("gap_filled", F.lit(False))
        .select(*CORE_COLS, "lang_dist", "gap_filled")
    )


def stitch_range(
    fine: DataFrame,
    coarse: DataFrame,
    t0: int,
    t1: int,
    fine_secs: int,
    coarse_secs: int,
    keys: tuple[str, ...] = ("url",),
    ts_col: str = "bucket_ts",
) -> DataFrame:
    """Tier-stitched range read: rows covering exactly [t0, t1) —
    COARSE buckets for the fully-contained interior, FINE buckets for
    the two edges — the continuous-aggregate "real-time stitch" every
    tiered TSDB performs at query time (TimescaleDB hypertable reads,
    Druid/M3 tiered retention).  The caller aggregates the union with
    the same algebra as :func:`cascade`; because every tier column is
    algebraic (cnt/sum/min/max), the stitched aggregate is EXACTLY the
    aggregate of the raw rows in [t0, t1) — the driver oracle proves
    that end to end from raw events.

    ``t0``/``t1`` are epoch seconds and must be fine-bucket-aligned
    (asserted): a tier can never answer below its own resolution.
    Degenerate ranges (shorter than one coarse bucket, or with an
    unaligned interior) fall back to fine rows only — lo/hi clamp makes
    the interior empty, never wrong.

    Scale notes (100 TB design):
      * The point of the stitch: a 90-day range touches ~3 coarse rows
        + <= 2*(coarse/fine - 1) fine rows PER KEY instead of ~2160
        fine rows — and the ``ts_col`` range filters push down to the
        tier storage (partition pruning on day-partitioned tiers;
        row-group pruning on sorted parquet), so the scan reads only
        the stitched window, not the retention history.
      * No shuffle here at all: two pushed-down filtered scans and a
        union; the aggregation that follows shuffles tier-sized rows.
    """
    if t0 % fine_secs or t1 % fine_secs:
        raise ValueError("t0/t1 must be fine-bucket-aligned epoch seconds")
    lo = ((t0 + coarse_secs - 1) // coarse_secs) * coarse_secs
    hi = (t1 // coarse_secs) * coarse_secs
    ts = F.unix_timestamp(F.col(ts_col))
    cols = [*keys, ts_col, *[c for c in fine.columns if c not in (*keys, ts_col)]]
    if lo >= hi:  # interior empty: the fine tier alone covers the range
        return fine.select(cols).filter((ts >= t0) & (ts < t1))
    mid = coarse.select(cols).filter((ts >= lo) & (ts < hi))
    edges = fine.select(cols).filter(
        ((ts >= t0) & (ts < lo)) | ((ts >= hi) & (ts < t1))
    )
    return mid.unionByName(edges)
