"""Embedding similarity search over `embeddings`-shaped tables.

Training-data-pipeline ANN family (task brief first-class components):

  * :func:`cosine_sim_col`    — codegen'd cosine similarity of two array cols
  * :func:`brute_topk`        — exact top-k neighbors (baseline)
  * :func:`lsh_bucket_topk`   — random-hyperplane-LSH bucketed top-k (scale path)
  * :func:`lsh_neardup_pairs` — bucketed near-dup PAIRS, exact-scored per
    bucket by a vectorized pandas GEMM kernel (scale path)
  * :func:`ivf_topk`          — inverted-file (cell-probed) top-k (scale path #2)

Scale notes (100 TB design):
  * brute_topk is O(Q x N): correct baseline, only viable when the query
    side is small enough to broadcast — which is exactly how we join it
    (`F.broadcast(queries)`), so N never shuffles.
  * lsh_bucket_topk hashes both sides into sign-pattern buckets with
    deterministic hyperplanes (seeded, hash-derived, no RNG state) and
    searches only same-bucket candidates: the join key is the bucket id,
    so the shuffle is bounded by bucket population, not N x Q.  Recall is
    tunable with n_planes / n_tables; exactness is NOT claimed (ANN).
  * All other vector math stays in zip_with/aggregate higher-order
    functions — JVM-side, zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_sim_col(a: Column, b: Column) -> Column:
    """Cosine similarity — left-fold aggregate matches DuckDB's sequential
    list_dot_product summation order, so oracles agree to FP noise."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is broadcast (small side by contract); rank via row_number over
    (sim desc, id asc) — sim rounded to 6dp BEFORE ranking so the ordering
    is stable across engines/summation orders.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    v = vectors.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    scored = (
        v.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(cosine_sim_col(F.col("q_vec"), F.col("n_vec")), 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (i < j) with cosine >=
    threshold.  O(N^2) exact baseline — the small-N VERIFIER for
    :func:`lsh_neardup_pairs`, which is the scale path (hyperplane-bucketed
    candidates, exact-scored; shuffle bounded by bucket population).  Do
    not run this form over a full corpus."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_sim_col(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a splitmix-style integer
    hash — no RNG object, identical on every executor and run."""

    def h(i: int) -> float:
        x = (i + seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        return (x / 2**64) * 2.0 - 1.0

    return [[h(p * dim + d) for d in range(dim)] for p in range(n_planes)]


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id from literal hyperplanes.  The dot product is
    rounded to 6dp BEFORE the sign test so the bucket id is reproducible
    across engines (DuckDB oracle uses the identical literals + rounding)."""
    out = F.lit(0)
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        out = out + F.when(
            F.round(_dot(vec, arr), 6) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    return out


def lsh_neardup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 1024,
) -> DataFrame:
    """Cosine near-duplicate PAIRS at scale: hyperplane-LSH bucketed
    candidates, exact-scored — the 100 TB replacement for the O(N^2)
    all-pairs :func:`cosine_neardup_pairs` (kept as the small-N verifier).

    Each vector lands in ``n_tables`` buckets (one per hyperplane table,
    seeds 42+t).  Each (table, bucket) group ships its members ONCE over
    Arrow (rows x dim doubles — never rows^2) into a vectorized pandas
    kernel that row-normalizes and computes the bucket's cosine matrix in
    ``block_rows``-high GEMM slabs, emitting only the (id_a < id_b,
    sim >= threshold) survivors.  A pair colliding in several tables is
    deduped after scoring; every emitted pair carries its EXACT cosine,
    so output ⊆ the exact pair set (approximation only costs recall,
    never precision).

    Shuffle = one groupBy on (table, bucket): rows x n_tables vector
    copies, bounded by bucket population.  Memory per group is
    O(block_rows x bucket_size); bucket size is controlled by n_planes
    (work degrades quadratically on a hot bucket, memory linearly).

    Determinism: seeded hash-derived hyperplanes, no RNG state — the
    DuckDB oracle reproduces the full pipeline from the same literals.
    BLAS sums in a different (fixed, blocked) order than the sequential
    left fold, so ``sim`` can differ from :func:`cosine_sim_col` in the
    last ulp — invisible after the 6 dp round unless a value sits within
    ~1e-10 of a rounding boundary.  Rounding happens BEFORE the
    cross-table dedup so colliding tables (which compute identical
    doubles for identical member sets) cannot emit conflicting rows.
    """
    import numpy as np
    import pandas as pd

    tables = [_hyperplanes(dim, n_planes, seed=42 + t) for t in range(n_tables)]
    vd = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    bucketed = vd.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), _bucket_expr(F.col("v"), pl).alias("bkt")
                    )
                    for t, pl in enumerate(tables)
                ]
            )
        ).alias("tb"),
    ).select("id", "v", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))

    id_dt = vectors.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}, sim double"

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        # id sort gives the a<b orientation of a Spark join condition
        # (numeric ids numerically; ASCII string ids byte-wise like Spark)
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()
        V = np.vstack(pdf["v"].to_numpy())
        Vn = V / np.sqrt((V * V).sum(axis=1))[:, None]
        out_a, out_b, out_s = [], [], []
        for s in range(0, n, block_rows):
            e = min(s + block_rows, n)
            sims = Vn[s:e] @ Vn.T  # (slab, n)
            rows, cols = np.nonzero(sims >= threshold)
            keep = cols > (rows + s)  # strict upper triangle, global index
            rows, cols = rows[keep], cols[keep]
            out_a.append(ids[rows + s])
            out_b.append(ids[cols])
            out_s.append(sims[rows, cols])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    scored = bucketed.groupBy("tbl", "bkt").applyInPandas(score_bucket, out_schema)
    return scored.select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    ).dropDuplicates(["id_a", "id_b"])


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: vectors and queries bucketed by
    the sign pattern of n_planes dot products; candidates = same bucket.

    ``n_tables`` independent hyperplane sets (seeds 42, 43, ...) are
    OR-combined — a candidate qualifies by colliding in ANY table — the
    sign-LSH analog of MinHash banding (AND within a table's planes, OR
    across tables).  One table keeps the historical behavior but
    under-recalls when clusters straddle hyperplanes (measured recall@5
    0.28 on seeded clustered vectors at n_planes=6; 4 tables clears the
    0.8 recall floor pinned in tests).  Collision rows are deduplicated
    per (q, n) BEFORE scoring, so extra tables add candidate volume,
    never duplicate scores.

    The bucket id is a codegen'd expression (sum of sign bits, rounded
    before the sign test so a DuckDB oracle reproduces it from the same
    literals); the join shuffles on (table, bucket).  Returns
    (q_id, n_id, sim, rank) — approximate by design."""
    tables = [_hyperplanes(dim, n_planes, seed=42 + t) for t in range(n_tables)]

    def buckets(vec: Column) -> Column:
        return F.array(
            *[
                F.struct(F.lit(t).alias("tbl"), _bucket_expr(vec, p).alias("bkt"))
                for t, p in enumerate(tables)
            ]
        )

    v = vectors.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.explode(buckets(F.col(vec_col))).alias("tb"),
    ).select("n_id", "n_vec", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(buckets(F.col(vec_col))).alias("tb"),
    ).select("q_id", "q_vec", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))
    cand = (
        v.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("q_id") != F.col("n_id"))
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = cand.withColumn(
        "sim", F.round(cosine_sim_col(F.col("q_vec"), F.col("n_vec")), 6)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def _coarse_quantize(vectors: DataFrame, n_cells: int, id_col: str, vec_col: str):
    """Shared IVF coarse quantizer: deterministic hash-stratified centroid
    sample + map-side nearest-cell assignment (see :func:`ivf_topk` docstring
    for why this stands in for k-means).  Returns ``(cents, cell_scores,
    assign)`` where ``assign`` has columns (n_id, cell, n_vec)."""
    seed_hash = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    cents = (
        vectors.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"), seed_hash.alias("_h")
        )
        .orderBy(F.col("_h").asc(), F.col("cid").asc())
        .limit(n_cells)
        .drop("_h")
    )

    def cell_scores(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.col(id_col).alias(f"{name}_id"), F.col(vec_col).alias(f"{name}_vec"))
            .crossJoin(F.broadcast(cents))
            .withColumn("csim", F.round(cosine_sim_col(F.col(f"{name}_vec"), F.col("c_vec")), 6))
        )

    assign = (
        cell_scores(vectors, "n")
        .groupBy("n_id")
        .agg(
            F.min(
                F.struct((-F.col("csim")).alias("nsim"), F.col("cid"), F.col("n_vec"))
            ).alias("_s")
        )
        .select("n_id", F.col("_s.cid").alias("cell"), F.col("_s.n_vec").alias("n_vec"))
    )
    return cents, cell_scores, assign


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat ANN: vectors are assigned to their nearest coarse-quantizer
    cell; each query probes its ``n_probe`` nearest cells and exact-scores
    only those cells' members — the inverted-file counterpart of the
    hyperplane LSH path (two independent ANN families, as a real pipeline
    ships).

    The coarse quantizer is a deterministic HASH-STRATIFIED sample: the
    ``n_cells`` vectors with the smallest md5-derived hash of their id
    (a uniform random draw under a fixed key, standing in for k-means
    centroids — k-means' iteration order is not reproducible across
    engines, and IVF recall depends only mildly on centroid quality).
    Unlike the previous lowest-id rule, the sample is independent of id
    assignment order, so seeds land proportionally to data density and a
    dense id-contiguous cluster cannot capture every centroid — bounded
    cell skew is asserted in tests.  (TakeOrdered over the full table is
    fine at sandbox scale; at 10^12 rows put a ``.sample`` in front.)
    Everything downstream is relational: one broadcast of the tiny
    centroid set, one map-side argmin over (-csim, cid) structs (works
    for ANY orderable id type; ties pick the lowest cell id) per vector,
    and a cell-keyed equi-join — the shuffle carries cell populations,
    never N x Q.  Deterministic end-to-end: sims rounded to 6dp before
    every comparison, so a DuckDB oracle reproduces cell assignment,
    probing, and ranking exactly.
    """
    cents, cell_scores, assign = _coarse_quantize(vectors, n_cells, id_col, vec_col)
    from pyspark.sql import Window

    wq = Window.partitionBy("q_id").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        cell_scores(queries, "q")
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("q_id", F.col("cid").alias("cell"), "q_vec")
    )
    scored = (
        assign.join(probes, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(cosine_sim_col(F.col("q_vec"), F.col("n_vec")), 6))
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level SEMANTIC dedup (SemDeDup re-derived from Abbas et
    al. 2023, arXiv:2303.09540): assign every vector to its nearest
    coarse-quantizer cell (the same deterministic hash-stratified
    quantizer as :func:`ivf_topk`), compare pairs ONLY within a cell, and
    drop any vector whose cell contains a LOWER-id vector with cosine
    similarity >= ``threshold``.  Two docs that say the same thing in
    different words collide here even when MinHash/SimHash (lexical
    families) miss them — this is the third, embedding-space leg of the
    dedup stack.

    Keep policy: "kept iff no lower-id within-cell neighbor above
    threshold" — a single anti-join, deterministic for any orderable id.
    (The paper keeps one representative per epsilon-ball; the one-pass
    lower-id rule is its non-iterative relaxation: every dense group
    keeps exactly its min-id member, and a chain A~B~C with A~C below
    threshold keeps A and C — slightly more aggressive than sequential
    greedy, which is the right bias for a dedup FILTER.  Transitive
    clusters, when wanted, come from feeding :func:`lsh_neardup_pairs`
    into operators/graph.py connected components instead.)

    Returns one row per input vector: (vec_id, cell, kept int 0/1) —
    lineage-friendly (the dropped set and its cells are first-class, as
    jobs/corpus.py stage metrics require).

    Scale shape (100 TB): cell assignment is map-side against a broadcast
    centroid set; the only shuffles are the cell-keyed self-join and the
    id-keyed anti-join.  Within-cell work is O(sum cell_pop^2) — the
    SemDeDup design point: n_cells grows with N (the paper runs ~10k
    clusters at 100M docs) so cell populations stay bounded; the
    hash-stratified sample keeps cells density-proportional (skew bound
    asserted in tests/test_dedup_similarity.py).  Sims rounded to 6dp
    before the threshold test, so a DuckDB oracle reproduces assignment
    and the keep decision exactly.

    Reference analog: none — YATSM has no embedding surface [U]; this is
    task-brief training-data-pipeline coverage (embedding-cosine near-dup
    at the corpus-dedup stage rather than pairwise-report stage).
    """
    _, _, assign = _coarse_quantize(vectors, n_cells, id_col, vec_col)
    a = assign.select(
        F.col("cell"), F.col("n_id").alias("id_a"), F.col("n_vec").alias("va")
    )
    b = assign.select(
        F.col("cell"), F.col("n_id").alias("id_b"), F.col("n_vec").alias("vb")
    )
    dup = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine_sim_col(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("id_b").alias("n_id"))
        .distinct()
    )
    return (
        assign.join(dup.withColumn("_dup", F.lit(1)), "n_id", "left")
        .select(
            F.col("n_id").alias(id_col),
            "cell",
            F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


def kmeans_exact(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """DETERMINISTIC distributed k-means (Lloyd's) over an embedding
    column — every arithmetic step in integer micro-units, so the fit is
    engine-, partitioning- and cluster-size-exact (the property the IVF
    coarse quantizer's docstring says float k-means cannot have: float
    centroid means depend on reduction order, so two runs of classic
    k-means on the same data need not agree.  Quantize first and they
    must):

      * points quantize once: xu[i] = floor(x[i] * scale)  (int64)
      * assignment: argmin integer squared L2 (sum of (xu-cu)^2 — exact
        bigints), ties to the smallest centroid id
      * update: cu[i] = floor(sum(xu[i]) / n) — component sums are
        associative bigint adds, the division is the pmod-exact decimal
        route (sums can pass 2^53, where a double quotient would round)
      * init: the hash-stratified seed rule shared with the IVF
        quantizer (_coarse_quantize) — uniform under a fixed key,
        independent of id density

    Returns the final assignment (id, cluster, d2) against the
    ``n_iter``-times-updated centroids — all bigint, so a DuckDB twin
    unrolling the same iterations hash-matches exactly.

    Scale shape (100 TB): per iteration ONE broadcast of k centroids
    (bounded driver-free: the k-row frame broadcasts, never collects),
    one map-side crossJoin against them, one struct-min hash aggregate
    for assignment, and one k-row component-sum aggregate (dim sum
    columns, map-side combined) — no shuffle ever carries vectors except
    the k-row centroid frame.  Empty clusters simply vanish (standard
    Lloyd's); k can shrink.  Component-sum bound: n_points * scale/2 per
    cluster must stay under 2^63 — at 10^12 points and scale 1e6 that is
    5e17, inside int64.
    """
    xu = F.transform(
        F.col(vec_col), lambda v: F.floor(v.cast("double") * scale).cast("long")
    )
    pts = vectors.select(F.col(id_col).alias("n_id"), xu.alias("xu"))
    seed_hash = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    cents = (
        vectors.select(
            F.col(id_col).alias("cid"), xu.alias("cu"), seed_hash.alias("_h")
        )
        .orderBy(F.col("_h").asc(), F.col("cid").asc())
        .limit(k)
        .drop("_h")
    )

    d2 = F.aggregate(
        F.zip_with("xu", "cu", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def _assign(cents_df: DataFrame) -> DataFrame:
        return (
            pts.crossJoin(F.broadcast(cents_df))
            .withColumn("_d2", d2)
            .groupBy("n_id")
            .agg(F.min(F.struct("_d2", "cid", "xu")).alias("_s"))
            .select(
                "n_id",
                F.col("_s.cid").alias("cluster"),
                F.col("_s._d2").alias("d2"),
                F.col("_s.xu").alias("xu"),
            )
        )

    def _fld(num, den) -> F.Column:
        # floor(num/den), num possibly NEGATIVE, exact past 2^53: strip
        # the nonneg pmod remainder, divide in decimal (quality._x1e4's
        # route), cast back
        exact = (num - F.pmod(num, den)).cast("decimal(38,0)")
        return (exact / den).cast("bigint")

    for _ in range(int(n_iter)):
        assigned = _assign(cents)
        n = F.count(F.lit(1))
        cents = (
            assigned.groupBy(F.col("cluster").alias("cid"))
            .agg(
                n.alias("_n"),
                *[F.sum(F.col("xu")[i]).alias(f"_s{i}") for i in range(dim)],
            )
            .select(
                "cid",
                F.array(
                    *[_fld(F.col(f"_s{i}"), F.col("_n")) for i in range(dim)]
                ).alias("cu"),
            )
        )
    return _assign(cents).select("n_id", "cluster", "d2")
