"""Mergeable histogram sketches: percentiles across retention tiers
WITHOUT re-reading raw data.

The tier cascade (operators/rollup.py) re-aggregates count/sum/min/max
exactly because those are algebraic; percentiles are NOT — a 1d p95
cannot be derived from 1h p95s.  Every metrics-grade timeseries engine
solves this with a mergeable sketch stored per bucket (TimescaleDB
``percentile_agg``/uddsketch, Druid/Pinot histograms, M3 bucketed
timers).  This module implements the fixed-width integer-bucket variant:

  * :func:`hist_sketch`     — per (key, tier bucket): sorted parallel
    arrays (hb, cnt) where hb = floor(value_u / width_u); an EXACT
    sufficient statistic for any quantile at width_u resolution.
  * :func:`hist_cascade`    — re-aggregate sketches to a coarser tier
    (explode + sum + re-collect).  Merging is exact by construction —
    counts are algebraic — so 1h -> 1d -> 30d loses nothing beyond the
    original width quantization, and raw data can age out (jobs/
    archive.py pattern) while coarse tiers still answer percentiles.
  * :func:`hist_percentile` — lower-edge quantile readout from a sketch:
    the hb whose running count first reaches ceil(q/100 * total),
    evaluated as ONE linear aggregate() fold per row (no explode, no
    window).  All integer arithmetic: engine/partitioning/cluster-size
    exact, so cascaded and directly-built tiers hash-match (pinned by
    test and by the driver oracle, which re-derives the same algebra
    from RAW data in DuckDB — proving the merge exact end to end).

Scale notes (100 TB design):
  * hist_sketch is TWO hash aggregates — (key, bucket, hb) then
    (key, bucket) — both with map-side partial aggregation; the second
    shuffles one slim (int, long) pair per OCCUPIED bucket, not per
    observation.  With width chosen so a series spans ~100-1000 buckets,
    the sketch tier is ~10^2-10^3 smaller than raw.
  * hist_cascade touches only sketch rows (already tiny) — the whole
    point: the 30d percentile never re-reads the 100 TB raw tier.
  * collect_list here is bounded by the OCCUPIED-bucket count per
    (key, bucket) group (<= value range / width), not by row count —
    the same boundedness argument as ohlc/M4, not a payload collect.

Reference analog: none — YATSM has no rollup surface [U]; this is the
north_star "continuous aggregates at 1h/1d/30d retention tiers"
(BASELINE.json:6) extended to the one aggregate family that needs a
sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yatsm_spark.operators.series import bucket_col


def _fld(num, den) -> F.Column:
    """floor(num / den) for nonneg bigint columns, cross-engine exact:
    strip the remainder with pmod (nonnegative in Spark), then the
    division is exactly divisible so the double route cannot round.
    Same discipline as quality._x1e4 (which also handles the >2^53
    decimal case; sketch inputs are value_u <= ~1e12, far below it)."""
    exact = num - F.pmod(num, den)
    return (exact / den).cast("bigint")


def hist_sketch(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    scale: int = 1_000_000,
    width_u: int = 10_000_000,
) -> DataFrame:
    """Build the per-(key, tier-bucket) histogram sketch.

    value_u = floor(value * scale) (integer micro-units, the tier-cascade
    exactness rule); hb = floor(value_u / width_u).  Returns
    (key, bucket_ts, hb: array<bigint>, cnt: array<bigint>, total)
    with hb ascending — the canonical mergeable form.
    """
    vu = F.floor(F.col(value_col) * scale).cast("long")
    hb = _fld(vu, F.lit(width_u).cast("long"))
    per_bucket = (
        df.groupBy(
            F.col(key_col),
            bucket_col(ts_col, tier).alias("bucket_ts"),
            hb.alias("hb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = F.sort_array(F.collect_list(F.struct("hb", "c")))
    return (
        per_bucket.groupBy(key_col, "bucket_ts")
        .agg(pairs.alias("_p"))
        .select(
            key_col,
            "bucket_ts",
            F.col("_p.hb").alias("hb"),
            F.col("_p.c").alias("cnt"),
            F.aggregate(
                "_p", F.lit(0).cast("long"), lambda acc, x: acc + x["c"]
            ).alias("total"),
        )
    )


def hist_cascade(sketch: DataFrame, tier: str, key_col: str = "user_id") -> DataFrame:
    """Re-aggregate a finer sketch tier to ``tier`` — exact merge.

    Explodes the (hb, cnt) pairs (sketch rows only — never raw data),
    re-buckets bucket_ts, sums counts, re-collects.  Output schema is
    identical to :func:`hist_sketch`, so tiers cascade indefinitely and
    :func:`hist_percentile` reads any tier the same way.
    """
    exploded = sketch.select(
        F.col(key_col),
        bucket_col("bucket_ts", tier).alias("bucket_ts"),
        F.explode(F.arrays_zip("hb", "cnt")).alias("z"),
    ).select(key_col, "bucket_ts", F.col("z.hb").alias("hb"), F.col("z.cnt").alias("c"))
    merged = exploded.groupBy(key_col, "bucket_ts", "hb").agg(F.sum("c").alias("c"))
    pairs = F.sort_array(F.collect_list(F.struct("hb", "c")))
    return (
        merged.groupBy(key_col, "bucket_ts")
        .agg(pairs.alias("_p"))
        .select(
            key_col,
            "bucket_ts",
            F.col("_p.hb").alias("hb"),
            F.col("_p.c").alias("cnt"),
            F.aggregate(
                "_p", F.lit(0).cast("long"), lambda acc, x: acc + x["c"]
            ).alias("total"),
        )
    )


def hist_percentile(
    sketch: DataFrame,
    qs: tuple[int, ...] = (50, 95),
    width_u: int = 10_000_000,
    key_col: str = "user_id",
) -> DataFrame:
    """Lower-edge quantile readout: for each q in ``qs`` (integer
    percent), the smallest bucket lower edge (hb * width_u) whose
    running count reaches ceil(q/100 * total).

    One aggregate() fold per (row, q) over the already-sorted pairs —
    entirely map-side; the only shuffles in a percentile-tier pipeline
    are the sketch builds themselves.  The fold accumulator is
    (remaining, answer): answer latches at the first element whose
    count covers the remainder.
    """
    out = sketch
    zipped = F.arrays_zip("hb", "cnt")
    for q in qs:
        # ceil(total * q / 100) = fld(total*q + 99, 100); total >= 1
        target = _fld(
            F.col("total") * F.lit(int(q)) + F.lit(99), F.lit(100).cast("long")
        )
        acc0 = F.struct(
            target.alias("rem"), F.lit(None).cast("bigint").alias("ans")
        )
        fold = F.aggregate(
            zipped,
            acc0,
            lambda acc, x: F.when(acc["ans"].isNotNull(), acc).otherwise(
                F.when(
                    x["cnt"] >= acc["rem"],
                    F.struct(acc["rem"].alias("rem"), x["hb"].alias("ans")),
                ).otherwise(
                    F.struct(
                        (acc["rem"] - x["cnt"]).alias("rem"),
                        F.lit(None).cast("bigint").alias("ans"),
                    )
                )
            ),
            lambda acc: acc["ans"] * F.lit(width_u),
        )
        out = out.withColumn(f"p{q}_u", fold)
    return out.select(
        key_col, "bucket_ts", "total", *[f"p{q}_u" for q in qs]
    )

# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch tier
# ---------------------------------------------------------------------------

#: hash space of portable_hash64 (first 8 hex chars of md5 => [0, 2^32)).
_KMV_SPACE = 1 << 32


def kmv_sketch(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "user_id",
    k: int = 32,
    two_phase: bool = True,
) -> DataFrame:
    """Per-(key, tier-bucket) KMV distinct sketch: the ``k`` smallest
    portable 32-bit hashes of the DISTINCT ``value_col`` values
    (Bar-Yossef et al. 2002 "Counting distinct elements in a data
    stream").  Like :func:`hist_sketch` this is the mergeable sufficient
    statistic that lets COUNT DISTINCT survive the tier cascade and raw
    age-out — distinct is not algebraic, so the plain rollup cannot
    carry it (A10's tier-crossing form; the exact per-bucket query
    `distinct_users_exact` only answers at the tier it was built at).

    Returns (key, bucket_ts, kmv: array<bigint> ascending, n_less_k:
    whether the bucket held fewer than ``k`` distinct values — in that
    case the sketch IS the exact distinct set).

    Scale notes (100 TB design):
      * One hash-aggregate DISTINCT on (key, bucket, hv) with map-side
        partial aggregation absorbs per-bucket duplicate traffic before
        the wire — the dominant volume at web scale (most events repeat
        the same visitors).
      * The bottom-k is the skew-safe two-phase rank (same shape as
        quality.domain_cap): phase 1 ranks within (key, bucket,
        spark_partition_id) so a hot key never sorts on one reducer —
        any hash in the global bottom-k is in its fragment's bottom-k —
        then phase 2 ranks the <= k * fragments survivors exactly.
        Bit-identical to the one-window form and partitioning-invariant.
      * Sketch rows are <= k bigints per (key, bucket): the tier is
        ~|bucket|/k smaller than raw and cascades without re-reading it.

    Hash collisions fold two values into one — the standard KMV regime;
    with a 2^32 space the bias is ~n/2^33, far below the k=32..256
    estimator's sampling error at any n this estimator is trusted for.
    """
    from yatsm_spark.functions.textops import portable_hash64

    from pyspark.sql import Window

    hv = portable_hash64(F.col(value_col).cast("string"))
    dis = (
        df.select(
            F.col(key_col),
            bucket_col(ts_col, tier).alias("bucket_ts"),
            hv.alias("hv"),
        )
        .groupBy(key_col, "bucket_ts", "hv")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    if two_phase:
        w1 = Window.partitionBy(key_col, "bucket_ts", "_pid").orderBy("hv")
        dis = (
            dis.withColumn("_pid", F.spark_partition_id())
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= k)
            .drop("_pid", "_rn")
        )
    w = Window.partitionBy(key_col, "bucket_ts").orderBy("hv")
    kept = dis.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    return (
        kept.groupBy(key_col, "bucket_ts")
        .agg(F.sort_array(F.collect_list("hv")).alias("kmv"))
        .withColumn("n_less_k", F.size("kmv") < k)
    )


def kmv_cascade(
    sketch: DataFrame, tier: str, key_col: str = "event_type", k: int = 32
) -> DataFrame:
    """Re-aggregate a finer KMV tier to ``tier`` — exact merge: any hash
    in the coarse bucket's bottom-k is in its fine bucket's bottom-k
    (at most k-1 hashes beat it anywhere), so the bottom-k of the union
    of bottom-k sets equals the bottom-k of the full union.  Touches
    only sketch rows; output schema matches :func:`kmv_sketch`, so tiers
    cascade indefinitely (1h -> 1d -> 30d) after raw age-out.
    """
    from pyspark.sql import Window

    exploded = sketch.select(
        F.col(key_col),
        bucket_col("bucket_ts", tier).alias("bucket_ts"),
        F.explode("kmv").alias("hv"),
    ).distinct()
    w = Window.partitionBy(key_col, "bucket_ts").orderBy("hv")
    kept = exploded.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return (
        kept.groupBy(key_col, "bucket_ts")
        .agg(F.sort_array(F.collect_list("hv")).alias("kmv"))
        .withColumn("n_less_k", F.size("kmv") < k)
    )


def kmv_estimate(sketch: DataFrame, k: int = 32) -> DataFrame:
    """Distinct-count readout: exact |set| when the bucket held < k
    distinct values, else the KMV estimator floor((k-1) * 2^32 /
    kth_min) — all bigint arithmetic ((k-1)*2^32 <= ~2^40), so the
    readout is engine/partitioning/cluster-size exact and the DuckDB
    oracle re-derives it bit-for-bit from raw rows.
    """
    kth = F.element_at("kmv", k)  # 1-based; only read when size == k
    est = _fld(
        F.lit((k - 1) * _KMV_SPACE).cast("long"),
        F.greatest(kth, F.lit(1).cast("long")),
    )
    return sketch.select(
        *[c for c in sketch.columns if c not in ("kmv", "n_less_k")],
        F.when(F.col("n_less_k"), F.size("kmv").cast("long"))
        .otherwise(est)
        .alias("ndv_est"),
        F.size("kmv").cast("long").alias("sketch_size"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch tier: heavy hitters / frequent items
# ---------------------------------------------------------------------------


def cm_sketch(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "event_type",
    ts_col: str = "ts",
    item_col: str = "user_id",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Per-(key, tier-bucket) count-min sketch (Cormode & Muthukrishnan
    2005): a depth x width counter matrix where row r adds each item's
    count at column portable_hash(item, salt=r) % width.  Frequent-items
    is the THIRD non-algebraic aggregate family (after percentiles /
    hist_sketch and distinct / kmv_sketch) that the exact tier cascade
    cannot carry — a 1d top-k is not derivable from 1h top-ks (an item
    can be second everywhere yet first overall).  Like its siblings the
    tier stores the mergeable sufficient statistic: counter matrices add
    cell-wise, so 1h -> 1d -> 30d merges are EXACT (the merged matrix
    equals the directly-built one) and raw data can age out while coarse
    tiers still answer frequency queries.

    Returns (key, bucket_ts, idx: array<bigint> ascending, cnt:
    array<bigint>, total) — SPARSE form: only occupied cells ship, one
    slim (int, long) pair each, with idx = r * width + column.  total is
    the bucket's observation count (sum of any row = total; recovered as
    sum(cnt) / depth, exactly divisible by construction).

    Scale notes (100 TB design):
      * Cells aggregate DIRECTLY from raw rows: explode each row's
        depth indices, then ONE (key, bucket, idx) count with map-side
        combine.  The combine map holds at most depth * width entries
        per (key, bucket) — a few hundred slim longs — so duplicate
        traffic is absorbed map-side at CELL granularity and the only
        shuffle ships <= depth * width partial cells per (key, bucket,
        input-partition).  An earlier per-(key, bucket, item) pre-count
        was strictly worse: on high-cardinality items it shuffled a
        corpus-sized nearly-unique string-keyed frame and paid a
        pathological final hash-agg (measured 5.7 s vs 4.6 s min — and
        far noisier — on 16M events at local[32]); exact per-item
        counts live in cm_candidates, which genuinely needs them.
      * cm_cascade touches sketch rows only — the 30d heavy-hitter
        query never re-reads the raw tier.
      * Estimates are deterministic upper bounds (est >= true count,
        error <= total/width per extra colliding item) — the classic
        CM guarantee; the readout replays in pure integer arithmetic,
        so cascaded and direct tiers hash-match and the DuckDB oracle
        re-derives the identical cells from RAW rows.

    Reference analog: none — YATSM has no rollup surface [U]; this
    completes the north_star retention-tier story (BASELINE.json:6) for
    the frequent-items family.
    """
    item = F.col(item_col).cast("string")
    idxs = F.array(*[_cm_idx(item, r, width) for r in range(depth)])
    cells = (
        df.select(
            F.col(key_col),
            bucket_col(ts_col, tier).alias("bucket_ts"),
            F.explode(idxs).alias("idx"),
        )
        .groupBy(key_col, "bucket_ts", "idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _cm_collect(cells, key_col, depth)


#: CM row-hash modulus (the textops 31-bit field prime)
_CM_PRIME = 2147483647


def _cm_idx(item: F.Column, r: int, width: int) -> F.Column:
    """Sparse cell index r*width + col for CM row ``r``: ONE md5-derived
    base hash per item (portable_hash64) re-salted ARITHMETICALLY per
    row — col_r = ((h*(2r+1) + 7919*(r+1)) mod PRIME) mod width, the
    dedup.minhash_signatures affine-rehash trick.  The original per-row salted md5
    (concat + md5 + hex-substr + conv PER ROW PER DEPTH) anti-scaled
    with threads on allocation pressure: the sketch-suite N-vs-4N
    campaign measured cm_sketch 21.5 s @local[8] vs 82.9 s @local[32]
    on the SAME 16M events; one md5 + three integer ops per extra row
    removes 3/4 of the string work.  h <= 2^32 and a <= 2*depth-1, so
    h*a + b < 2^36 — no bigint wrap; both mods are nonnegative in both
    engines (pmod / % on nonneg operands)."""
    from yatsm_spark.functions.textops import portable_hash64

    h = portable_hash64(item)
    col = F.pmod(
        F.pmod(
            h * F.lit(2 * r + 1) + F.lit(7919 * (r + 1)), F.lit(_CM_PRIME)
        ),
        F.lit(width),
    )
    return F.lit(r * width).cast("long") + col


def _cm_collect(cells: DataFrame, key_col: str, depth: int) -> DataFrame:
    """(key, bucket_ts, idx, c) cells -> canonical sparse sketch rows."""
    pairs = F.sort_array(F.collect_list(F.struct("idx", "c")))
    return (
        cells.groupBy(key_col, "bucket_ts")
        .agg(pairs.alias("_p"))
        .select(
            key_col,
            "bucket_ts",
            F.col("_p.idx").alias("idx"),
            F.col("_p.c").alias("cnt"),
            _fld(
                F.aggregate(
                    "_p", F.lit(0).cast("long"), lambda acc, x: acc + x["c"]
                ),
                F.lit(depth).cast("long"),
            ).alias("total"),
        )
    )


def cm_cascade(
    sketch: DataFrame, tier: str, key_col: str = "event_type", depth: int = 4
) -> DataFrame:
    """Re-aggregate a finer count-min tier to ``tier`` — exact merge
    (counter matrices add cell-wise; same argument as hist_cascade).
    Touches only sketch rows; output schema matches :func:`cm_sketch`,
    so tiers cascade indefinitely after raw age-out.
    """
    exploded = sketch.select(
        F.col(key_col),
        bucket_col("bucket_ts", tier).alias("bucket_ts"),
        F.explode(F.arrays_zip("idx", "cnt")).alias("z"),
    ).select(
        key_col, "bucket_ts", F.col("z.idx").alias("idx"), F.col("z.cnt").alias("c")
    )
    cells = exploded.groupBy(key_col, "bucket_ts", "idx").agg(F.sum("c").alias("c"))
    return _cm_collect(cells, key_col, depth)


def cm_candidates(
    df: DataFrame,
    tier: str = "1h",
    key_col: str = "event_type",
    ts_col: str = "ts",
    item_col: str = "user_id",
    m: int = 8,
) -> DataFrame:
    """Exact per-(key, fine-bucket) top-``m`` items by (count desc, item
    asc) — the candidate stream a count-min readout probes.  The classic
    pairing (CM answers point queries only; heavy hitters need a
    candidate set), and the union-of-fine-bucket-leaders heuristic is
    the standard one: a coarse heavy hitter that never cracks any fine
    bucket's top-m is possible in adversarial streams but not in the
    skewed traffic heavy-hitter queries exist for.  Deterministic by
    the string tie-break, so the DuckDB oracle replays it exactly.

    Skew shape: the rank is the same two-phase (key, bucket,
    spark_partition_id) pre-rank as kmv_sketch / domain_cap — a hot
    (key, bucket) never sorts on one reducer.
    """
    from pyspark.sql import Window

    per_item = df.groupBy(
        F.col(key_col),
        bucket_col(ts_col, tier).alias("bucket_ts"),
        F.col(item_col).cast("string").alias("item"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w1 = Window.partitionBy(key_col, "bucket_ts", "_pid").orderBy(
        F.col("c").desc(), F.col("item")
    )
    pre = (
        per_item.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= m)
        .drop("_pid", "_rn")
    )
    w = Window.partitionBy(key_col, "bucket_ts").orderBy(
        F.col("c").desc(), F.col("item")
    )
    return (
        pre.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= m)
        .select(key_col, "bucket_ts", "item")
    )


def cm_topk(
    sketch: DataFrame,
    candidates: DataFrame,
    tier: str,
    topk: int = 5,
    key_col: str = "event_type",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Heavy-hitter readout from a count-min tier: re-bucket the (finer)
    candidate stream to the sketch's ``tier``, probe each candidate's
    depth cells (min over rows — the CM estimate, a deterministic upper
    bound on its true count), rank per (key, bucket) by (estimate desc,
    item asc) and keep ``topk``.

    The probe is a map lookup per candidate (map_from_arrays over the
    sparse cells — candidates drawn from the same data always hit);
    the join is a slim equi-join of two already-tiny tiers.  The final
    window ranks <= m x (fine buckets per coarse) rows per group —
    bounded by construction, not by data volume.
    """
    from pyspark.sql import Window

    cand = (
        candidates.select(
            F.col(key_col),
            bucket_col("bucket_ts", tier).alias("bucket_ts"),
            "item",
        )
        .distinct()
    )
    mp = F.map_from_arrays("idx", "cnt")
    probes = [
        F.coalesce(
            F.element_at(mp, _cm_idx(F.col("item"), r, width)),
            F.lit(0).cast("long"),
        )
        for r in range(depth)
    ]
    est = F.least(*probes) if depth > 1 else probes[0]
    joined = cand.join(sketch, [key_col, "bucket_ts"], "inner").select(
        key_col, "bucket_ts", "item", est.alias("est_cnt")
    )
    w = Window.partitionBy(key_col, "bucket_ts").orderBy(
        F.col("est_cnt").desc(), F.col("item")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= topk)
    )
