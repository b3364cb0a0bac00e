"""Generic per-key time-series operators (column-name-agnostic).

The crawl-specific pipeline lives in :mod:`yatsm_spark.operators.rollup`
(fixed crawl schema + lang_dist maps).  This module is the same operator
family over ANY (key, ts, value) series table — used by the driver-contract
queries over ``events`` and by jobs that roll up arbitrary series.

Operators (SURVEY.md §2.4):
  * :func:`rollup_series`  — A1 tumbling-window numeric rollup
  * :func:`cascade_series` — A2 exact tier re-aggregation
  * :func:`gap_fill_series`— A4 materialize missing buckets (cnt=0)
  * :func:`locf_series`    — A4 last-observation-carried-forward
  * :func:`sessionize`     — A8 gap-rule session ids (window cumsum)
  * :func:`asof_prev_event`— J3 as-of lookup realized as a running window
  * :func:`window_deltas`  — A14 lag/lead/row_number analytics
  * :func:`top_k_keys`     — A9 heavy-hitter keys (TakeOrderedAndProject)
  * :func:`content_drift`  — K6 analog over TEXT: per-key simhash-lag
    Hamming change-points (content rewrites, not numeric drift)
  * :func:`interpolate_series` — A4 linear interpolation across gaps
    (floor-exact integer blend; LOCF's companion policy)
  * :func:`m4_downsample`  — M4 first/min/max/last POINTS per bucket
    (Jugel et al. VLDB 2014 error-free rendering downsample)
  * :func:`time_weighted_avg` — LOCF step-function integral per bucket
  * :func:`state_durations` — time-in-state per bucket (state_agg twin)
  * :func:`heartbeat_uptime` — liveness interval-union coverage per bucket

Scale notes (100 TB design):
  * Every operator here is a single shuffle on its key (hash agg or window);
    partial aggregation absorbs skew map-side for the algebraic aggs.
  * Tier schemas carry cnt+sum so coarser tiers cascade EXACTLY
    (mean re-derived; never avg-of-avgs).
  * ``gap_fill_series`` generates fill rows from each gap via
    lead()+sequence()+explode — cost scales with the number of GAPS, not
    with the dense grid size (critical when most series are dense).

Reference analog: YATSM consumes raw irregular series and has no rollup;
these implement the north_star continuous aggregates (BASELINE.json:6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark.operators.rollup import TIER_SECONDS, bucket_col

AGG_COLS = ["cnt", "sum_val", "mean_val", "min_val", "max_val"]


def rollup_series(
    df: DataFrame,
    tier: str,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    value_col: str = "text_len",
) -> DataFrame:
    """A1: per (key, bucket) count/sum/mean/min/max of ``value_col``.

    One shuffle; Spark plans partial HashAggregate -> Exchange -> final
    HashAggregate, so map-side combine does most of the work for hot keys.
    """
    return (
        df.groupBy(*key_cols, bucket_col(ts_col, tier).alias("bucket_ts"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(value_col).alias("sum_val"),
            F.min(value_col).alias("min_val"),
            F.max(value_col).alias("max_val"),
        )
        .withColumn("mean_val", F.col("sum_val") / F.col("cnt"))
        .select(*key_cols, "bucket_ts", *AGG_COLS)
    )


def cascade_series(
    finer: DataFrame, tier: str, key_cols: tuple[str, ...] = ("url",)
) -> DataFrame:
    """A2: re-aggregate a finer tier into ``tier`` EXACTLY (cnt/sum/min/max
    compose; mean re-derived).  Gap rows (cnt=0), if present, are excluded
    so fills never pollute coarser tiers."""
    src = finer.filter(F.col("cnt") > 0) if "cnt" in finer.columns else finer
    return (
        src.groupBy(*key_cols, bucket_col("bucket_ts", tier).alias("bucket_ts"))
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
        .withColumn("mean_val", F.col("sum_val") / F.col("cnt"))
        .select(*key_cols, "bucket_ts", *AGG_COLS)
    )


def gap_fill_series(
    tier_df: DataFrame, tier: str, key_cols: tuple[str, ...] = ("url",)
) -> DataFrame:
    """A4: materialize missing buckets between each key's first and last
    observed bucket as cnt=0 rows flagged ``gap_filled = true``.

    Join-free: lead() over one window shuffle, then sequence()+explode
    generates fill rows map-side — scales with gap count, not grid size.
    """
    secs = TIER_SECONDS[tier]
    w = Window.partitionBy(*key_cols).orderBy("bucket_ts")
    step = F.make_interval(secs=F.lit(float(secs)))
    gaps = (
        tier_df.withColumn("_next", F.lead("bucket_ts").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.unix_timestamp("_next") - F.unix_timestamp("bucket_ts") > secs)
        )
        .select(
            *key_cols,
            F.explode(
                F.sequence(F.col("bucket_ts") + step, F.col("_next") - step, step)
            ).alias("bucket_ts"),
        )
        .withColumn("cnt", F.lit(0).cast("long"))
        .withColumn("sum_val", F.lit(None).cast("double"))
        .withColumn("mean_val", F.lit(None).cast("double"))
        .withColumn("min_val", F.lit(None).cast("double"))
        .withColumn("max_val", F.lit(None).cast("double"))
        .withColumn("gap_filled", F.lit(True))
    )
    base = tier_df
    for c in ("sum_val", "mean_val", "min_val", "max_val"):
        base = base.withColumn(c, F.col(c).cast("double"))
    base = base.withColumn("gap_filled", F.lit(False))
    return base.unionByName(gaps.select(*base.columns))


def locf_series(
    filled: DataFrame,
    cols: tuple[str, ...] = ("mean_val",),
    key_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """A4: last-observation-carried-forward over gap rows — one window
    shuffle, ``last(ignorenulls)`` over an unbounded-preceding frame."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = filled
    for c in cols:
        out = out.withColumn(f"{c}_locf", F.last(c, ignorenulls=True).over(w))
    return out


def sessionize(
    df: DataFrame,
    gap: int,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
) -> DataFrame:
    """A8: assign session ids per key — a new session starts when the gap
    to the previous observation exceeds ``gap`` seconds.

    lag + cumulative sum over one window shuffle; the same construction the
    segmenter uses for batch break-id assignment (seg_id = cumsum(is_break)).
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    run = Window.partitionBy(*key_cols).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        df.withColumn("_prev", F.lag(ts_col).over(w))
        .withColumn(
            "_new_session",
            (
                F.col("_prev").isNull()
                | ((F.unix_timestamp(ts_col) - F.unix_timestamp("_prev")) > gap)
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("_new_session").over(run))
        .drop("_prev", "_new_session")
    )


def asof_prev_event(
    df: DataFrame,
    cond: F.Column,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    out_col: str = "asof_ts",
) -> DataFrame:
    """J3 (as-of lookup, windowed form): for every row, the most recent
    at-or-before ``ts_col`` of the same key where ``cond`` held.

    Shuffle-free relative to a range join: one window per key instead of a
    key×key range join — this is the scalable form when probe and build
    sides are the same stream (yatsm/cli/map.py's "model active at date D"
    semantics [U] over a single table)."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        out_col, F.last(F.when(cond, F.col(ts_col)), ignorenulls=True).over(w)
    )


def window_deltas(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    value_col: str = "text_len",
) -> DataFrame:
    """A14: per-key analytics — row_number, delta vs previous value."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    return df.select(
        *key_cols,
        ts_col,
        F.col(value_col).alias("value"),
        F.row_number().over(w).alias("rn"),
        (F.col(value_col) - F.lag(value_col).over(w)).alias("delta"),
    )


def top_k_keys(
    df: DataFrame, k: int, key_cols: tuple[str, ...] = ("url",)
) -> DataFrame:
    """A9: heaviest keys by row count, deterministic tie-break on the key.

    orderBy+limit compiles to TakeOrderedAndProject — per-partition top-k
    then a k-row merge at the driver; never a global sort of the counts."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), *[F.asc(c) for c in key_cols])
        .limit(k)
    )


def ohlc_series(
    df: DataFrame,
    tier: str,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    value_col: str = "text_len",
) -> DataFrame:
    """OHLC downsample: per (key, bucket) the first (open), max (high),
    min (low), and last (close) value — the candlestick rollup every TSDB
    ships beside count/mean tiers.

    open/close are struct-min/max over (ts, value): one hash-shuffle
    aggregate with map-side combine, fully deterministic under duplicate
    timestamps (value is the lexicographic tie-break — the same rule a
    DuckDB oracle reproduces with min/max over a struct literal).  No
    window sort: a window row_number formulation would shuffle AND sort
    every row; the struct agg is partial-aggregable.
    """
    t = F.col(ts_col)
    v = F.col(value_col).cast("double")
    pair = F.struct(t.alias("t"), v.alias("v"))
    return (
        df.groupBy(*key_cols, bucket_col(ts_col, tier).alias("bucket_ts"))
        .agg(
            F.min(pair).alias("_o"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max(pair).alias("_c"),
            F.count("*").alias("cnt"),
        )
        .select(
            *key_cols,
            "bucket_ts",
            F.col("_o.v").alias("open"),
            "high",
            "low",
            F.col("_c.v").alias("close"),
            "cnt",
        )
    )


def asof_nearest_event(
    df: DataFrame,
    cond: F.Column,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    out_col: str = "nearest_ts",
    tolerance_sec: int | None = None,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J3 variant — NEAREST as-of: for every row, the ``cond`` row of the
    same key closest in time (either direction), excluding the row itself;
    ties prefer the earlier side (deterministic).  ``tolerance_sec`` nulls
    out matches farther than the bound (the sensor-fusion join semantics).

    Same scalable shape as :func:`asof_prev_event`: ONE window shuffle per
    key — a strict-past frame for the previous match and a strict-future
    frame for the next — instead of a key x key range join.
    """
    order = [ts_col, *tiebreak_cols]  # tiebreak pins frames under dup ts
    wp = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    marked = F.when(cond, F.col(ts_col))
    prev = F.last(marked, ignorenulls=True).over(wp)
    nxt = F.first(marked, ignorenulls=True).over(wn)
    t = F.unix_timestamp(F.col(ts_col))
    dp = t - F.unix_timestamp(prev)
    dn = F.unix_timestamp(nxt) - t
    nearest = (
        F.when(prev.isNull(), nxt)
        .when(nxt.isNull(), prev)
        .when(dp <= dn, prev)  # tie -> earlier side
        .otherwise(nxt)
    )
    if tolerance_sec is not None:
        dist = F.abs(t - F.unix_timestamp(nearest))
        nearest = F.when(dist <= tolerance_sec, nearest)
    return df.withColumn(out_col, nearest)


def sliding_mean(
    tier_df: DataFrame,
    window_sec: int,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "bucket_ts",
    value_col: str = "mean_val",
    out_col: str = "sliding_mean",
    exact: bool = False,
) -> DataFrame:
    """Trailing time-RANGE moving aggregate over a tier: for each bucket,
    the mean of ``value_col`` across buckets in the half-open trailing
    window (bucket_ts - window_sec, bucket_ts] of the same key — e.g.
    window_sec=86400 on a 1h tier covers the current bucket plus the 23
    before it (a bucket exactly 24h back has aged out).

    rangeBetween on epoch seconds (not rowsBetween): gaps in the tier must
    shrink the window's population, not silently widen its time span.  One
    window shuffle per key; Spark evaluates the range frame with a sliding
    two-pointer over the sorted partition (O(n) amortized per key).

    ``exact=True`` emits the window's (sum_<value_col>, n_win) pair
    instead of the float mean — with integer-scaled inputs both are
    order-exact, which is what cross-engine hash checks and exact
    downstream re-derivation need (float window means differ in the last
    ulp across engines: aggregation association order is engine-specific).
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.unix_timestamp(F.col(ts_col)))
        .rangeBetween(-(window_sec - 1), 0)
    )
    if exact:
        return tier_df.withColumn(
            f"sum_{value_col}", F.sum(value_col).over(w)
        ).withColumn("n_win", F.count(value_col).over(w))
    return tier_df.withColumn(out_col, F.avg(value_col).over(w))


def content_drift(
    df: DataFrame,
    bits: int = 32,
    threshold: int = 6,
    key_col: str = "url",
    order_col: str = "warc_ts",
    text_col: str = "text",
    consecutive: int = 1,
) -> DataFrame:
    """Per-key CONTENT change-points: SimHash Hamming distance between
    consecutive observations of a text series — the webtext twin of the
    CCDC numeric break detector (K6 watches length(text) drift; this
    watches what the page SAYS).  A re-crawl whose text is a near-dup of
    the previous crawl has Hamming distance ~0-2; a rewrite jumps to
    ~bits/2 (independent simhashes agree per bit with p=0.5).

    Returns one row per consecutive pair:
        (key, order, hamming: bigint, drift: int[0/1]).

    ``consecutive=1`` (default) is the plain lag test: drift iff
    hamming >= threshold.  With ``consecutive`` = c >= 2 the rule is the
    K6 Shewhart confirmation recast on hashes: obs t STARTS a confirmed
    break iff (a) its predecessor is a STABLE baseline (the predecessor's
    own incoming transition did not exceed — or it was the series head),
    and (b) obs t AND the next c-1 observations ALL sit >= threshold away
    from that baseline hash.  This is deliberately NOT "c exceeding
    transitions in a row": a one-observation flap (transient error page)
    produces TWO exceeding transitions (flap-in, flap-out) and would
    still fool a transition-run rule, but it deviates from the baseline
    for only ONE observation, so the baseline-anchored rule stays quiet —
    exactly how CCDC confirms a numeric break against the pre-break
    model, not against the previous raw point.  A confirmed break flags
    ONCE, at its first deviating observation; the unconfirmable tail
    (fewer than c-1 successors) never flags.  The first observation of a
    key emits no row (no predecessor).

    Scale shape: simhash64 is map-side (single-pass vote-vector
    aggregate); the lag needs ONE window exchange+sort on the key — the
    same (url, warc_ts) ordering every kernel stage uses, so on the
    url-bucketed presorted tier layout (sources/storage.py) the exchange
    vanishes.  Cost is independent of text size after the hash.

    Reference analog: YATSM's Shewhart screen flags numeric residual
    jumps [U]; this is the same one-lag change test on a content hash.
    """
    from yatsm_spark.functions.textops import simhash64

    sh = df.select(
        F.col(key_col),
        F.col(order_col),
        simhash64(text_col, bits).alias("_sh"),
    )
    w = Window.partitionBy(key_col).orderBy(order_col)
    prev = F.lag("_sh").over(w)
    hamming = F.bit_count(prev.bitwiseXOR(F.col("_sh"))).cast("bigint")
    if consecutive <= 1:
        return (
            sh.select(key_col, order_col, hamming.alias("hamming"))
            .filter(F.col("hamming").isNotNull())
            .withColumn("drift", (F.col("hamming") >= threshold).cast("int"))
        )
    # baseline-anchored confirmation (all lag/lead share the one (key,
    # order) window spec — Catalyst reuses a single exchange+sort):
    #   stable baseline: predecessor's own incoming transition < threshold
    #   confirm: this obs and the next c-1 all >= threshold FROM BASELINE
    prev2 = F.lag("_sh", 2).over(w)
    stable = prev2.isNull() | (F.bit_count(prev.bitwiseXOR(prev2)) < threshold)
    confirm = F.lit(True)
    for j in range(consecutive):
        confirm = confirm & (
            F.bit_count(F.lead("_sh", j).over(w).bitwiseXOR(prev)) >= threshold
        )
    drift = F.coalesce((stable & confirm).cast("int"), F.lit(0))
    return sh.select(
        key_col, order_col, hamming.alias("hamming"), drift.alias("drift")
    ).filter(F.col("hamming").isNotNull())


def counter_increase(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Monotonic-counter INCREASE per (key, tumbling bucket) with counter
    RESET detection — the rate()/increase() primitive every metrics-grade
    timeseries engine ships (Prometheus/Timescale semantics): a counter
    only ever climbs; a drop means the process restarted and the counter
    rebased near zero, so the post-reset reading itself is the increase
    contribution (delta would be a huge negative lie).

        delta_t = v_t - v_{t-1}   (per key, observation order)
        contrib = delta_t if delta_t >= 0 else v_t      # reset
        first observation of a key contributes 0 (no baseline)

    Returns (key, bucket_ts, increase_u: bigint, n_obs, n_resets) where
    ``increase_u`` is in 1/``scale`` units: values are scaled to integer
    micro-units with floor(value * scale) BEFORE differencing, so sums
    are associative-exact — engine, partitioning, and cluster-size
    invariant (the same integer-exactness rule the tier cascade uses;
    a double sum's value depends on reduction order and would not
    hash-match an oracle).

    Scale shape (100 TB): ONE window exchange+sort on the key for the
    lag, then a hash aggregate on (key, bucket) with map-side partial
    aggregation — the same two-stage profile as sessionize/locf; on the
    key-bucketed presorted layout (sources/storage.py) the window
    exchange vanishes.  ``order_tiebreak`` (e.g. an event id) makes the
    lag order total when timestamps can collide — without it, same-ts
    rows would make the result run-dependent.

    Reference analog: none — YATSM models values, it never meters them
    [U]; this is north_star continuous-aggregate surface (BASELINE.json
    rollup family) extended to counter semantics.
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    vu = F.floor(F.col(value_col) * scale).cast("long")
    scaled = df.select(
        F.col(key_col), F.col(ts_col), vu.alias("_vu"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    )
    prev = F.lag("_vu").over(w)
    delta = F.col("_vu") - prev
    contrib = (
        F.when(prev.isNull(), F.lit(0).cast("long"))
        .when(delta >= 0, delta)
        .otherwise(F.col("_vu"))
    )
    is_reset = F.when(prev.isNotNull() & (delta < 0), 1).otherwise(0)
    return (
        scaled.withColumn("_contrib", contrib)
        .withColumn("_reset", is_reset)
        .groupBy(F.col(key_col), bucket_col(ts_col, tier).alias("bucket_ts"))
        .agg(
            F.sum("_contrib").alias("increase_u"),
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("_reset").cast("bigint").alias("n_resets"),
        )
    )


def interpolate_series(
    filled: DataFrame,
    value_col: str = "mean_val",
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "bucket_ts",
    scale: int = 10_000,
) -> DataFrame:
    """A4: LINEAR interpolation across gap-filled buckets — the
    ``interpolate()`` companion to :func:`locf_series` (the two standard
    gap-fill value policies of every continuous-aggregate engine).

    Consumes the output of :func:`gap_fill_series` (gap rows carry NULL in
    ``value_col``).  For each gap row with an observed neighbor on BOTH
    sides, emits the time-weighted linear blend; edge gaps (before the
    first / after the last observation) stay NULL — a gap there has no
    defined slope.  Observed rows pass through unchanged.

    Exactness: values are scaled to integer 1/``scale`` units up front and
    the blend is computed as a floor-exact bigint rational —

        interp_u = floor((prev_u*(t1-t) + next_u*(t-t0)) / (t1-t0))

    via the pmod identity ``(num - pmod(num, den)) / den`` so the result
    is engine-, partitioning-, and cluster-size-exact (a double blend
    would round differently per reduction order and never hash-match an
    oracle).  Magnitude bound: |num| <= scale*|v|_max * gap_seconds; at
    scale 1e4, |v| <= 1e6 and 30-day gaps that is ~2.6e16 << 2^63.

    Scale shape (100 TB): ONE exchange+sort on the key feeds two Window
    nodes sharing the sort (backward last(ignorenulls) + forward
    first(ignorenulls) frames); zero joins, zero extra shuffles.  On the
    key-bucketed presorted layout the exchange vanishes.

    Reference analog: none in YATSM (it fits models through irregular
    samples rather than regularizing the grid) [U]; this is north_star
    "gap-fill missing crawl intervals" surface (BASELINE.json:6).
    """
    wb = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward neighbor via the REVERSED running frame, NOT
    # first(...) over (currentRow, unboundedFollowing): Spark evaluates an
    # unbounded-FOLLOWING frame by rescanning from each row to the
    # partition end — O(n^2) per key (measured 7.1 s vs 1.0 s for the
    # LOCF twin at sf0.1).  last(ignorenulls) over the desc-ordered
    # running frame is the same value in O(n) with one extra sort on the
    # already-exchanged partition.
    wf = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.unix_timestamp(F.col(ts_col))
    vu = F.round(F.col(value_col) * scale).cast("long")
    obs_t = F.when(vu.isNotNull(), t)
    df = (
        filled.withColumn("_vu", vu)
        .withColumn("_pv", F.last("_vu", ignorenulls=True).over(wb))
        .withColumn("_pt", F.last(obs_t, ignorenulls=True).over(wb))
        .withColumn("_nv", F.last("_vu", ignorenulls=True).over(wf))
        .withColumn("_nt", F.last(obs_t, ignorenulls=True).over(wf))
    )
    num = F.col("_pv") * (F.col("_nt") - t) + F.col("_nv") * (t - F.col("_pt"))
    den = F.col("_nt") - F.col("_pt")
    blend = ((num - F.pmod(num, den)) / den).cast("long")
    interp = (
        F.when(F.col("_vu").isNotNull(), F.col("_vu"))
        .when(F.col("_pv").isNotNull() & F.col("_nv").isNotNull(), blend)
        .otherwise(F.lit(None).cast("long"))
    )
    return df.withColumn(f"{value_col}_interp_u", interp).drop(
        "_vu", "_pv", "_pt", "_nv", "_nt"
    )


def m4_downsample(
    df: DataFrame,
    tier: str,
    key_cols: tuple[str, ...] = ("url",),
    ts_col: str = "warc_ts",
    value_col: str = "text_len",
) -> DataFrame:
    """A1/A12: M4 visualization downsampling (Jugel et al., VLDB 2014) —
    per (key, tumbling bucket) the four extremum POINTS (value *and* its
    timestamp): first, min, max, last.  M4 is the published
    error-free-rendering downsample: those 4 points per pixel-column
    bucket reproduce a line chart exactly at the target resolution, so a
    10^12-point series ships to a dashboard as 4*width points.

    Distinct from the OHLC rollup: OHLC keeps only the VALUES; M4 keeps
    each extremum's timestamp, which is what a renderer needs.

    Deterministic tie policy (documented, engine-exact): ties on value
    take the EARLIEST timestamp for the min point and the LATEST for the
    max point (struct-ordering min/max); ties on timestamp take the
    smallest value for first, largest for last.

    Scale shape (100 TB): a single partial-aggregable hash aggregate —
    struct-min/max are algebraic, so map-side combine collapses each
    partition's bucket to 4 points before the ONE exchange; no window,
    no sort.

    Reference analog: YATSM's rasterized map outputs downsample by
    aggregation too, but have no timeseries-rendering path [U]; this is
    north_star downsample surface (BASELINE.json:14).
    """
    v = F.col(value_col).cast("double")
    ts = F.col(ts_col)
    out = (
        df.groupBy(
            *[F.col(k) for k in key_cols], bucket_col(ts_col, tier).alias("bucket_ts")
        )
        .agg(
            F.min(F.struct(ts.alias("t"), v.alias("v"))).alias("_f"),
            F.min(F.struct(v.alias("v"), ts.alias("t"))).alias("_mn"),
            F.max(F.struct(v.alias("v"), ts.alias("t"))).alias("_mx"),
            F.max(F.struct(ts.alias("t"), v.alias("v"))).alias("_l"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            *key_cols,
            "bucket_ts",
            F.col("_f.t").alias("t_first"),
            (F.round(F.col("_f.v"), 4) + F.lit(0.0)).alias("v_first"),
            F.col("_mn.t").alias("t_min"),
            (F.round(F.col("_mn.v"), 4) + F.lit(0.0)).alias("v_min"),
            F.col("_mx.t").alias("t_max"),
            (F.round(F.col("_mx.v"), 4) + F.lit(0.0)).alias("v_max"),
            F.col("_l.t").alias("t_last"),
            (F.round(F.col("_l.v"), 4) + F.lit(0.0)).alias("v_last"),
            "cnt",
        )
    )
    return out


def anomaly_zscore(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
    window: int = 24,
    min_obs: int = 8,
    k: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Rolling z-score anomaly flags per series: an observation is
    anomalous when it sits more than ``k`` sample standard deviations
    from the mean of its own trailing ``window`` observations (the
    current point is EXCLUDED from its baseline — a spike must not
    inflate the deviation it is judged against).  The standard
    metrics-engine outlier primitive (Prometheus z-score recipes,
    Timescale anomaly detection).

    Exactness: the flag is evaluated WITHOUT any floating division —
    values scale to integer micro-units and the comparison
        z^2 > k^2   <=>   (x*n - s)^2 > k^2 * (n*ssq - s^2)
    is cross-multiplied in decimal(38,0) (s = trailing sum, ssq =
    trailing sum of squares; ssq alone can pass 2^63 at large windows,
    and the squares certainly do).  Zero-variance baselines flag exactly
    when x differs from the constant (lhs > 0 = rhs).  Engine-,
    partitioning- and cluster-size-exact, like every flag this repo
    emits.

    Returns (key, ts[, tiebreak], value_u, n_win, is_anom) — is_anom = 0
    whenever the baseline has fewer than ``min_obs`` points.

    Scale shape (100 TB): ONE window exchange+sort on the key; all three
    trailing statistics share the single frame, and on the key-bucketed
    presorted layout (sources/storage.py) the exchange vanishes —
    identical profile to sliding_mean/locf.
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-window, -1)
    )
    vu = F.floor(F.col(value_col) * scale).cast("long")
    dec = "decimal(38,0)"
    x = F.col("_vu").cast(dec)
    n = F.count("_vu").over(w).cast(dec)
    s = F.sum("_vu").over(w).cast(dec)
    ssq = F.sum(F.col("_vu").cast(dec) * F.col("_vu").cast(dec)).over(w)
    lhs = (x * n - s) * (x * n - s)
    rhs = F.lit(k * k).cast(dec) * (n * ssq - s * s)
    return (
        df.select(
            F.col(key_col), F.col(ts_col), vu.alias("_vu"),
            *([F.col(order_tiebreak)] if order_tiebreak else []),
        )
        .select(
            key_col,
            ts_col,
            *([order_tiebreak] if order_tiebreak else []),
            F.col("_vu").alias("value_u"),
            n.cast("bigint").alias("n_win"),
            F.when((n >= min_obs) & (lhs > rhs), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_anom"),
        )
    )


def ewma_series(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
    alpha_num: int = 1,
    alpha_shift: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exponentially-weighted moving average per series — the recursive
    smoother every timeseries engine ships (Prometheus holt_winters'
    level term, Timescale/Influx EMA).  alpha is DYADIC
    (``alpha_num`` / 2^``alpha_shift``, default 1/4) and the recursion
    runs in integer micro-units with arithmetic-shift flooring:

        s_1 = x_1;   s_n = s_{n-1} + ((x_n - s_{n-1}) * alpha_num >> alpha_shift)

    so every step is exact int64 arithmetic — the result is engine-,
    partitioning- and cluster-size-exact (a float EWMA's value depends
    on nothing, but hash-matching an independent engine requires the
    arithmetic itself to be integral; the DuckDB oracle replays the same
    recursion in a recursive CTE).  numpy's ``>>`` on int64 is an
    arithmetic shift = floor division by 2^shift, negatives included.

    EWMA is inherently recursive — no window frame expresses it — so
    this is the repo's standard vectorized-kernel shape (north_star:
    "vectorized pandas/Arrow UDFs, never per-row Python"):
    repartition(key) + sortWithinPartitions + ONE mapInPandas over whole
    key runs (plans/__init__.py::map_key_runs).
    Inside a partition the recursion is STEPPED-MATRIX vectorized: one
    loop over max-run-LENGTH, each step a numpy op across every active
    series in the partition — per-partition cost O(max_len) vector ops,
    not O(rows) Python iterations (a partition holds many short series
    at design scale, so the loop count is the longest series, not the
    row count).

    Returns (key, ts[, tiebreak], value_u, ewma_u).
    """
    import numpy as np
    import pandas as pd

    from yatsm_spark.plans import _run_bounds, map_key_runs

    a, sh = int(alpha_num), int(alpha_shift)
    if not (0 < a <= (1 << sh)):
        raise ValueError("alpha_num must be in (0, 2^alpha_shift]")
    extra = [order_tiebreak] if order_tiebreak else []
    vu = F.floor(F.col(value_col) * scale).cast("long")
    src = df.select(
        F.col(key_col), F.col(ts_col), *[F.col(c) for c in extra], vu.alias("value_u")
    )

    fields = {f.name: f for f in src.schema.fields}
    out_schema = "{}, {}, {}value_u long, ewma_u long".format(
        f"{key_col} {fields[key_col].dataType.simpleString()}",
        f"{ts_col} {fields[ts_col].dataType.simpleString()}",
        "".join(
            f"{c} {fields[c].dataType.simpleString()}, " for c in extra
        ),
    )

    def _run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        x = pdf["value_u"].to_numpy(dtype=np.int64)
        starts, ends = _run_bounds(pdf[key_col].to_numpy())
        s = np.empty_like(x)
        s[starts] = x[starts]
        lens = ends - starts
        # stepped-matrix recursion: advance every run one step per loop
        for t in range(1, int(lens.max()) if lens.size else 0):
            pos = starts[lens > t] + t
            prev = s[pos - 1]
            s[pos] = prev + (((x[pos] - prev) * a) >> sh)
        out = pdf[[key_col, ts_col, *extra, "value_u"]].copy()
        out["ewma_u"] = s
        return out

    return map_key_runs(src, key_col, [ts_col, *extra], _run, out_schema)


def time_weighted_avg(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Time-weighted average per (key, tumbling bucket) under LOCF
    interpolation — TimescaleDB's ``time_weight('LOCF')``: with
    irregular sampling a plain mean over-weights chatty intervals (10
    readings in a burst vs 1 an hour counts the burst 10x); the honest
    bucket statistic is the INTEGRAL of the step function divided by the
    covered duration.

    Semantics (documented contract): each observation holds its value
    until the next observation or the bucket end, whichever is earlier;
    coverage runs from the bucket's FIRST observation to the bucket end
    (no carry-in from the previous bucket — the per-bucket form every
    engine's bucketed time_weight computes).  Durations are integer
    MICROSECONDS and the weighted sum runs in decimal(38,0) (a 30d
    bucket's v*dt products pass 2^63), so

        twa_u = floor( sum(value_u * dt_us) / sum(dt_us) )

    is engine/partitioning/cluster-size exact.  Returns
    (key, bucket_ts, twa_u, covered_us, n_obs).

    Scale shape (100 TB): ONE window exchange+sort on the key for the
    lead(ts), then a map-side-combined hash aggregate on (key, bucket) —
    the counter_increase profile exactly; exchange-free on the
    key-bucketed presorted layout.
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    secs = TIER_SECONDS[tier]
    vu = F.floor(F.col(value_col) * scale).cast("long")
    # unix_micros rejects TIMESTAMP_NTZ; the session TZ is pinned UTC so
    # the cast is a pure type relabel, not a wall-clock shift.
    tu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    end_u = (
        (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) + 1) * secs
    ).cast("long") * F.lit(1_000_000)
    scaled = df.select(
        F.col(key_col),
        bucket_col(ts_col, tier).alias("bucket_ts"),
        vu.alias("_vu"),
        tu.alias("_tu"),
        end_u.alias("_end"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
        F.col(ts_col),
    )
    nxt = F.lead("_tu").over(w)
    dt = F.least(F.coalesce(nxt, F.col("_end")), F.col("_end")) - F.col("_tu")
    dec = "decimal(38,0)"
    contrib = F.col("_vu").cast(dec) * dt.cast(dec)
    agg = (
        scaled.withColumn("_dt", dt)
        .withColumn("_c", contrib)
        .groupBy(key_col, "bucket_ts")
        .agg(
            F.sum("_c").alias("_sc"),
            F.sum("_dt").alias("covered_us"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    num, den = F.col("_sc"), F.col("covered_us").cast(dec)
    twa = ((num - F.pmod(num, den)) / den).cast("bigint")
    return agg.select(
        key_col,
        "bucket_ts",
        twa.alias("twa_u"),
        F.col("covered_us").cast("bigint").alias("covered_us"),
        "n_obs",
    )


def state_durations(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Time-in-state per (key, tumbling bucket, state) under LOCF —
    TimescaleDB toolkit's ``state_agg``/``duration_in``: each observation
    pins the series to ``state_col``'s value until the next observation
    or the bucket end, whichever is earlier, and the operator reports how
    long each state held.  The categorical sibling of
    :func:`time_weighted_avg` (same no-carry-in per-bucket contract:
    coverage runs from the bucket's first observation to the bucket end),
    answering "how long was this url serving each language / this host in
    each status" rather than "what was the average level".

    Durations are integer MICROSECONDS (sums fit bigint: a 30d bucket is
    2.6e12 us/key-state, and per-group duration is bounded by wall time,
    not row count), so the result is engine/partitioning/cluster-size
    exact.  Returns (key, bucket_ts, state, dur_us, n_obs) — one row per
    OBSERVED state per bucket; states cascade to coarser tiers by plain
    SUM (algebraic), unlike the underlying raw series.

    Scale shape (100 TB): ONE window exchange+sort on the key for the
    lead(ts), then a map-side-combined hash aggregate on (key, bucket,
    state) — the time_weighted_avg profile exactly; exchange-free on the
    key-bucketed presorted layout.
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    secs = TIER_SECONDS[tier]
    tu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    end_u = (
        (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) + 1) * secs
    ).cast("long") * F.lit(1_000_000)
    scaled = df.select(
        F.col(key_col),
        bucket_col(ts_col, tier).alias("bucket_ts"),
        F.col(state_col).alias("state"),
        tu.alias("_tu"),
        end_u.alias("_end"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
        F.col(ts_col),
    )
    nxt = F.lead("_tu").over(w)
    dt = F.least(F.coalesce(nxt, F.col("_end")), F.col("_end")) - F.col("_tu")
    return (
        scaled.withColumn("_dt", dt)
        .groupBy(key_col, "bucket_ts", "state")
        .agg(
            F.sum("_dt").cast("bigint").alias("dur_us"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def heartbeat_uptime(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "user_id",
    ts_col: str = "ts",
    liveness_us: int = 600_000_000,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Uptime coverage per (key, tumbling bucket) from heartbeat events —
    TimescaleDB toolkit's ``heartbeat_agg``: each heartbeat asserts the
    source was live for ``liveness_us`` microseconds (default 10 min);
    the bucket's uptime is the length of the UNION of those intervals
    clipped to [first heartbeat, bucket end] (the same no-carry-in
    contract as :func:`time_weighted_avg`).

    With heartbeats sorted per key, an interval can only overlap its
    successor, so the union length is one pass:

        up_us = sum( min(lead(tu), tu + liveness_us, bucket_end) - tu )

    — all integer microseconds, engine/partitioning-exact.  Returns
    (key, bucket_ts, up_us, n_beats, gap_us) where gap_us is covered
    wall time minus uptime (dead air INSIDE the covered span; crawler/
    host-health dashboards alert on it).  Uptime sums cascade to coarser
    tiers by plain SUM.

    Scale shape (100 TB): identical to :func:`state_durations` — one key
    window for the lead, one map-side-combined hash aggregate.
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    secs = TIER_SECONDS[tier]
    tu = F.unix_micros(F.col(ts_col).cast("timestamp"))
    end_u = (
        (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) + 1) * secs
    ).cast("long") * F.lit(1_000_000)
    scaled = df.select(
        F.col(key_col),
        bucket_col(ts_col, tier).alias("bucket_ts"),
        tu.alias("_tu"),
        end_u.alias("_end"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
        F.col(ts_col),
    )
    nxt = F.lead("_tu").over(w)
    live_end = F.col("_tu") + F.lit(liveness_us).cast("long")
    up = F.least(
        F.coalesce(nxt, live_end), live_end, F.col("_end")
    ) - F.col("_tu")
    cov = F.least(F.coalesce(nxt, F.col("_end")), F.col("_end")) - F.col("_tu")
    return (
        scaled.withColumn("_up", up)
        .withColumn("_cov", cov)
        .groupBy(key_col, "bucket_ts")
        .agg(
            F.sum("_up").cast("bigint").alias("up_us"),
            F.count(F.lit(1)).alias("n_beats"),
            (F.sum("_cov") - F.sum("_up")).cast("bigint").alias("gap_us"),
        )
    )


def interval_overlap_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    key_cols: tuple[str, ...] = (),
    bin_seconds: int = 3600,
    max_bins_per_interval: int = 10_000,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join, binned so it stays an EQUI-join at scale:
    every point falls in exactly one ``bin_seconds`` time bin; every
    interval is exploded into the bins it overlaps; the join key is
    (*key_cols, bin) and the half-open containment ``start <= ts < end``
    refines map-side after the hash join.

    A naive range join is O(points x intervals) (BroadcastNestedLoop /
    CartesianProduct — the shape every plan test in this repo bans);
    binning bounds the work by per-bin population.  No post-dedup is
    needed: a point has ONE bin, and an interval appears at most once
    per bin, so each (point, interval) containment emits exactly once.

    Cost model: interval rows multiply by ceil(span / bin_seconds) —
    pick ``bin_seconds`` near the TYPICAL interval span so the explode
    factor is ~2 and the per-bin population stays shuffle-partition
    sized.  A degenerate interval (span >> bin) fails LOUDLY via the
    ``max_bins_per_interval`` assert instead of silently exploding.

    ``how``: "inner" keeps matched pairs; "left" preserves unmatched
    points with null interval columns (one row per unmatched point).
    Interval column names must not collide with point columns.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"unknown how {how!r}")
    pb = points.withColumn(
        "_bin", F.floor(F.unix_timestamp(F.col(ts_col)) / bin_seconds)
    )
    seq = F.sequence(
        F.floor(F.unix_timestamp(F.col(start_col)) / bin_seconds),
        # end is EXCLUSIVE: an interval ending exactly on a bin edge does
        # not reach into that bin
        F.floor(
            (F.unix_timestamp(F.col(end_col)) - F.lit(1)) / F.lit(bin_seconds)
        ),
    )
    ib = intervals.withColumn(
        "_ibin",
        F.explode(
            F.when(
                F.size(seq) <= max_bins_per_interval, seq
            ).otherwise(
                F.raise_error(
                    F.format_string(
                        "interval spans more than %d bins of %ds — raise "
                        "bin_seconds or split the interval",
                        F.lit(max_bins_per_interval),
                        F.lit(bin_seconds),
                    )
                )
            )
        ),
    )
    # explicit aliases: points and intervals are often derived from the
    # SAME source frame, where bare key references resolve ambiguously
    # (Spark would warn "trivially true equals predicate")
    pb, ib = pb.alias("_pts"), ib.alias("_ivl")
    cond = (F.col("_pts._bin") == F.col("_ivl._ibin")) & (
        (
            F.unix_timestamp(F.col(f"_ivl.{start_col}"))
            <= F.unix_timestamp(F.col(f"_pts.{ts_col}"))
        )
        & (
            F.unix_timestamp(F.col(f"_pts.{ts_col}"))
            < F.unix_timestamp(F.col(f"_ivl.{end_col}"))
        )
    )
    for k in key_cols:
        cond = cond & (F.col(f"_pts.{k}") == F.col(f"_ivl.{k}"))
    ivl_keep = [
        c for c in intervals.columns if c not in key_cols
    ]
    return pb.join(ib, cond, how).select(
        *[F.col(f"_pts.{c}") for c in points.columns],
        *[F.col(f"_ivl.{c}") for c in ivl_keep],
    )


def funnel(
    df: DataFrame,
    steps: list,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_span_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis (ClickHouse windowFunnel semantics, exact):
    for each key, the earliest greedy completion of ``steps`` — t1 = the
    key's first step-1 event, t_i = its first step-i event STRICTLY after
    t_{i-1} (and, with ``max_span_seconds``, within that span of t1).

    Computed in the chained-min form directly: one shuffle collects a
    per-step timestamp array per key (collect_list skips the nulls the
    step-index CASE leaves on non-matching rows), then
    ``t_i = array_min(filter(arr_i, x > t_{i-1} [and x - t1 <= span]))``
    — n small filtered-array allocations per key, NEVER a per-event
    fold.  (The previous aggregate()-fold form rebuilt an accumulator
    array per EVENT — concat/slice/array_repeat per element — an
    allocation storm that measurably anti-scaled with threads at ~2k
    events/key: 16M events ran SLOWER on local[32] than local[8].)
    No sort is needed: min over an unordered list is order-insensitive,
    so collect_list's non-determinism cannot leak into the result.
    Each t_i is built as its own projection step referencing t_{i-1} by
    column, keeping expression trees linear in the step count.

    Returns one row per key that completed step 1: (key, t1..tn
    timestamps, steps_completed).  Ties resolve exactly as the strict
    chained-min semantics dictate: a step-2 event at the same timestamp
    as t1 is rejected by the strict ``>`` — matching the SQL oracle
    twin the driver compares against.
    """
    n = len(steps)
    if n < 1:
        raise ValueError("funnel needs at least one step")
    idx = F.lit(None).cast("int")
    for i, s in enumerate(reversed(steps)):
        idx = F.when(F.col(type_col) == F.lit(s), F.lit(n - 1 - i)).otherwise(idx)
    evs = (
        df.select(
            F.col(key_col),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_tu"),
            idx.alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .groupBy(key_col)
        .agg(
            *[
                F.collect_list(
                    F.when(F.col("_s") == i, F.col("_tu"))
                ).alias(f"_a{i}")
                for i in range(n)
            ]
        )
    )
    span_us = (
        None if max_span_seconds is None else int(max_span_seconds) * 1_000_000
    )
    # NB: HOF lambdas MUST be single-argument here — PySpark dispatches
    # on lambda arity, and a second (even defaulted) parameter silently
    # becomes the array INDEX. Hence the closure factory.
    def after(prev_name):
        if span_us is None:
            return lambda x: x > F.col(prev_name)
        # t1 is non-null whenever prev is, so the span term is never a
        # null-guard problem; a null prev nulls the whole predicate,
        # filter drops everything, array_min(empty)=null —
        # incompletion cascades without explicit guards.
        return lambda x: (x > F.col(prev_name)) & (
            x - F.col("_t0") <= F.lit(span_us)
        )

    out = evs.withColumn("_t0", F.array_min("_a0"))
    for i in range(1, n):
        out = out.withColumn(
            f"_t{i}", F.array_min(F.filter(f"_a{i}", after(f"_t{i - 1}")))
        )
    out = out.filter(F.col("_t0").isNotNull())
    cols = [F.col(key_col)]
    for i in range(n):
        cols.append(F.timestamp_micros(F.col(f"_t{i}")).alias(f"t{i + 1}"))
    done = F.lit(0)
    for i in range(n):
        done = done + F.col(f"_t{i}").isNotNull().cast("int")
    cols.append(done.alias("steps_completed"))
    return out.select(*cols)


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tier: str = "1d",
) -> DataFrame:
    """Cohort retention matrix: keys are cohorted by their FIRST active
    ``tier`` bucket; for each (cohort bucket, bucket offset) count the
    distinct keys active then.  offset 0 row = cohort size.

    Scale shape: (1) distinct (key, bucket) — one shuffle, shrinks the
    input to active-key-buckets before anything joins; (2) per-key min
    over that SAME keyed frame (groupBy key — co-partitioned with (1)'s
    output, AQE reuses the layout); (3) equi-join on key; (4) count by
    (cohort, offset) — keys are already distinct per bucket, so a plain
    count(*) is the distinct-user count, no expensive count-distinct.
    """
    secs = TIER_SECONDS[tier]
    kb = df.select(
        F.col(key_col).alias("_k"), bucket_col(ts_col, tier).alias("_b")
    ).distinct()
    first = kb.groupBy("_k").agg(F.min("_b").alias("cohort_ts"))
    return (
        kb.join(first, "_k")
        .groupBy(
            "cohort_ts",
            (
                (F.unix_timestamp("_b") - F.unix_timestamp("cohort_ts")) / secs
            ).cast("int").alias("offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def hampel_flags(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str | None = None,
    window: int = 12,
    min_obs: int = 8,
    k: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Hampel filter: rolling-MEDIAN anomaly flags per series — an
    observation is anomalous when it sits more than ``k`` median
    absolute deviations (MAD) from the median of its own trailing
    ``window`` observations (current point excluded, like
    :func:`anomaly_zscore`).  The robust sibling of the z-score flag:
    a level shift or a burst of prior outliers inflates a mean/stddev
    baseline and masks the next outlier; the median/MAD baseline has a
    50% breakdown point (Hampel 1974; the standard robust-metrics
    recipe, e.g. pandas/TimescaleDB Hampel implementations).

    Exactness: values scale to integer micro-units; median is the LOWER
    median element_at(sorted, (n+1) div 2) and MAD the lower median of
    |x - med| — all bigint, no division anywhere, so flags are engine-,
    partitioning- and cluster-size-exact and the DuckDB oracle replays
    them bit-for-bit (list() window + list_sort).  A zero-MAD baseline
    (majority-constant window) flags exactly when x differs from the
    median — same convention as the zero-variance z-score case.

    Returns (key, ts[, tiebreak], value_u, n_win, is_anom); is_anom = 0
    below ``min_obs`` baseline points.

    Scale shape (100 TB): ONE window exchange+sort on the key — the
    anomaly_zscore profile — plus O(window log window) per-row array
    work inside codegen (collect over the frame is bounded by
    ``window``, a config constant, never by data volume).  On the
    key-bucketed presorted layout the exchange vanishes.
    """
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-window, -1)
    )
    vu = F.floor(F.col(value_col) * scale).cast("long")
    arr = F.sort_array(F.collect_list("_vu").over(w))
    base = df.select(
        F.col(key_col), F.col(ts_col), vu.alias("_vu"),
        *([F.col(order_tiebreak)] if order_tiebreak else []),
    ).select(
        key_col,
        ts_col,
        *([order_tiebreak] if order_tiebreak else []),
        F.col("_vu"),
        arr.alias("_arr"),
    )
    n = F.size("_arr").cast("long")
    med_ix = _lower_median_ix(n)
    # element_at(arr, 0) errors on empty windows (first rows per key) —
    # guard with CaseWhen, which evaluates only the taken branch.
    med = F.when(n > 0, F.element_at("_arr", med_ix.cast("int")))
    dev = F.array_sort(F.transform("_arr", lambda x: F.abs(x - med)))
    mad = F.when(n > 0, F.element_at(dev, med_ix.cast("int")))
    flag = (
        (n >= min_obs) & (F.abs(F.col("_vu") - med) > F.lit(k) * mad)
    ).cast("int")
    return base.select(
        key_col,
        ts_col,
        *([order_tiebreak] if order_tiebreak else []),
        F.col("_vu").alias("value_u"),
        n.alias("n_win"),
        F.when(n >= min_obs, flag).otherwise(F.lit(0)).alias("is_anom"),
    )


def _lower_median_ix(n: F.Column) -> F.Column:
    """(n+1) div 2 as exact bigint floor-div (1-based lower median)."""
    np1 = n + F.lit(1).cast("long")
    return ((np1 - F.pmod(np1, F.lit(2))) / F.lit(2)).cast("long")


def rolling_active(
    df: DataFrame,
    days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rolling active users: for every OBSERVED day, the exact distinct
    user count over the trailing ``days``-day window (WAU at days=7,
    MAU at 30) next to that day's exact DAU — the product-analytics
    stickiness pair (DAU/WAU).  Sliding distinct does not decompose
    into per-day aggregates (a user active twice in the window counts
    once), and Spark windows cannot range-frame COUNT DISTINCT; the
    scalable form is offset-explode: each (user, day) activity row
    contributes membership to the ``days`` target windows that contain
    it, then one exact distinct count per target day.

    Returns (bucket_ts, active_1d, active_7d-style column named
    active_nd) for observed days only (a day with zero events emits no
    row — gap_fill composes on top if a dense calendar is wanted).

    Scale shape (100 TB): dedup to (user, day) FIRST — map-side combine
    absorbs the raw event volume, and everything after runs on
    |users| x |days| rows; the explode is a narrow x``days``
    multiplier on that already-tiny frame, and the final count is one
    hash aggregate per target day.  No range join, no window over the
    full event stream.
    """
    day = bucket_col(ts_col, "1d").alias("bucket_ts")
    ud = df.select(F.col(user_col).alias("_u"), day).distinct()
    a1 = ud.groupBy("bucket_ts").agg(F.count(F.lit(1)).alias("active_1d"))
    tgt = (
        ud.select(
            "_u",
            F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("_o"),
            F.col("bucket_ts"),
        )
        .select(
            "_u",
            F.timestamp_seconds(
                F.unix_timestamp("bucket_ts") + F.col("_o").cast("long") * 86400
            ).alias("bucket_ts"),
        )
        .distinct()
    )
    an = tgt.groupBy("bucket_ts").agg(
        F.count(F.lit(1)).alias(f"active_{days}d")
    )
    return a1.join(an, "bucket_ts", "inner").select(
        "bucket_ts", "active_1d", f"active_{days}d"
    )
