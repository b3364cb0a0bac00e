"""Connected components over near-dup pair edges → dedup clusters.

Pair emitters (dedup.py::minhash_lsh_pairs, similarity.py::lsh_neardup_pairs)
stop at (id_a, id_b) edges, but a corpus dedup actually needs CLUSTERS: the
transitive closure of "is a near-dup of", with one keeper per cluster.  Two
docs that never collide directly must still land in the same cluster when a
third bridges them — pairwise keep/drop decisions double-drop or double-keep
around such bridges.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) — the shuffle-native
formulation that converges in O(log n) rounds:

  large-star: every node points its LARGER neighbors at the minimum of its
              neighborhood (incl. itself);
  small-star: every node points its smaller-or-equal neighbors at that
              minimum.

Each star op is ONE window shuffle over the edge list (partitionBy node —
no groupBy+rejoin round trip).  The loop stops on an exact test: the edge
list is a star forest when no node has two smaller neighbours, or a
smaller and a larger one.  Then every edge joins a leaf to a centre below
all its leaves, so each component is one star labelled by its minimum,
and star ops preserve connectivity, so these are the input's components.

Scale notes (100 TB design):
  * Near-dup graphs are dense blobs (near-cliques from LSH buckets) plus
    singletons — diameter is tiny, so the loop exits in 2-4 rounds; the
    O(log n) bound covers adversarial chains.
  * Each round ``localCheckpoint(eager=True)``s its edge list, TRUNCATING
    the logical plan.  persist() alone is not enough: AQE re-planning and
    incremental limit execution can re-execute from the logical plan, and
    with O(rounds)-deep lineage that recompute is exponential (measured:
    round times 9s -> 7s -> 18s -> 139s with persist; flat ~2s with
    checkpoints).  On a real cluster swap localCheckpoint for a reliable
    checkpoint dir if executor loss during the loop must be survivable.
  * The star-forest test is a per-node window flag counted by
    ``observe`` on the round's eager checkpoint, so a round is one action
    and a pairs-only graph (already a star forest) runs zero rounds.

Determinism: min-label propagation with a total order on ids; no rand(),
no partition-id dependence — results are cluster-size-invariant (§4.3).

Reference analog: the reference has no graph stage [U]; SURVEY.md §2's
training-data-pipeline family (dedup) is the driver here — clusters are
what the MinHash/LSH pair stages exist to feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _persistent_ids(sc) -> set[int]:
    """Ids of all currently persisted RDDs (public SparkContext API)."""
    it = sc._jsc.sc().getPersistentRDDs().keysIterator()
    out: set[int] = set()
    while it.hasNext():
        out.add(it.next())
    return out


def _checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that REMEMBERS its block set.

    ``DataFrame.unpersist()`` does not free localCheckpoint blocks (they
    live on the checkpointed RDD, not in the CacheManager — verified:
    getPersistentRDDs count unchanged after unpersist), so without
    bookkeeping every CC round leaks a block set for the session
    lifetime.  The newly-persisted RDD ids are diffed around the
    checkpoint call (driver-side, single-threaded — the only writer)
    and stashed on the DataFrame for :func:`_release`.
    """
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    out = df.localCheckpoint(eager=True)
    out._yatsm_ckpt_ids = _persistent_ids(sc) - before  # type: ignore[attr-defined]
    return out


def _release(*dfs: DataFrame) -> None:
    """Free the localCheckpoint blocks behind :func:`_checkpoint` frames.

    After this the frame CANNOT be recomputed (lineage was truncated) —
    only call once every consumer has materialized.
    """
    for df in dfs:
        ids = getattr(df, "_yatsm_ckpt_ids", None)
        if not ids:
            continue
        sc = df.sparkSession.sparkContext
        m = sc._jsc.sc().getPersistentRDDs()
        for i in ids:
            opt = m.get(i)
            if opt.isDefined():
                opt.get().unpersist(True)
        df._yatsm_ckpt_ids = set()  # type: ignore[attr-defined]


def materialize_once(df: DataFrame) -> DataFrame:
    """Public face of :func:`_checkpoint`: eagerly materialize a frame that
    has MULTIPLE downstream consumers whose differing column pruning defeats
    ReuseExchange (each consumer would otherwise recompute the full lineage
    — measured 8 recomputes of the MinHash banding inside one LSH plan).
    The returned frame carries its block-set handle; free it with
    :func:`release_components` once every consumer has materialized."""
    return _checkpoint(df)


def release_components(df: DataFrame) -> None:
    """Free the one checkpoint block set held by a
    :func:`connected_components` / :func:`neardup_clusters` result.
    Call when the result has been fully consumed (written / joined into
    a persisted frame); the frame is unusable afterwards."""
    _release(df)


def _adjacency(edges: DataFrame) -> tuple[DataFrame, int]:
    """Checkpoint distinct child->parent edges (src > dst) as the symmetric
    adjacency (n, o) and count its star-forest violations on the same
    action: a node is bad when it has more than one smaller neighbour, or
    a smaller and a larger one.  The count rides the eager checkpoint via
    ``observe`` (one fresh Observation per checkpoint), so the convergence
    test costs no job of its own."""
    sym = edges.select(F.col("src").alias("n"), F.col("dst").alias("o")).union(
        edges.select(F.col("dst").alias("n"), F.col("src").alias("o"))
    )
    w = Window.partitionBy("n")
    smaller = F.count_if(F.col("o") < F.col("n")).over(w)
    bad = (smaller > 1) | ((smaller > 0) & (F.max("o").over(w) > F.col("n")))
    obs = Observation()
    adj = _checkpoint(
        sym.withColumn("_bad", bad)
        .observe(obs, F.count_if("_bad").alias("bad"))
        .select("n", "o")
    )
    return adj, obs.get["bad"]


def _star_round(adj: DataFrame) -> DataFrame:
    """One large-star then small-star round over the adjacency; returns
    distinct child->parent edges (src > dst).

    large-star: every node n points its LARGER neighbours at
    m = min(N(n) ∪ {n}); the distinct bounds dense-cluster rows before
    the small-star shuffle.  small-star: every node points itself and its
    smaller neighbours at the least of those — on child->parent edges a
    node's smaller neighbours are exactly its rows, so no symmetrize."""
    m = F.least(F.min("o").over(Window.partitionBy("n")), F.col("n"))
    large = (
        adj.withColumn("m", m)
        .filter(F.col("o") > F.col("n"))
        .select(F.col("o").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )
    star = large.withColumn("m", F.min("dst").over(Window.partitionBy("src")))
    return (
        star.filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(star.select("src", F.col("m").alias("dst")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component id (= component-minimum node id) for every node that
    appears in ``edges``.  Returns (id, component).

    Raises RuntimeError if the edge list is not a star forest after
    ``max_iter`` alternating rounds (2 * ceil(log2 n) covers any graph;
    25 rounds is far past any realistic corpus).
    """
    s, d = F.col(src_col), F.col(dst_col)
    cur, bad = _adjacency(
        edges.select(F.greatest(s, d).alias("src"), F.least(s, d).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    for _ in range(max_iter):
        if not bad:
            break
        nxt, bad = _adjacency(_star_round(cur))
        # nxt is eagerly materialized; the superseded round's blocks are
        # dead — free them NOW, or each round leaks a block set
        _release(cur)
        cur = nxt
    if bad:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")

    # a star forest: a leaf's only neighbour is its centre, the component
    # minimum; a centre's neighbours are all larger, so it labels itself
    result = _checkpoint(
        cur.groupBy("n").agg(F.least(F.min("o"), F.col("n")).alias("component"))
        .select(F.col("n").alias("id"), "component")
    )
    # the eager result checkpoint makes the adjacency dead too — exactly
    # ONE block set (one row per clustered node) survives per call;
    # consumers free it with :func:`release_components`
    _release(cur)
    return result


def neardup_clusters(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Dedup clusters from near-dup pairs: (doc_id, cluster_id,
    cluster_size, is_keeper).

    cluster_id is the cluster's minimum doc id; the keeper policy is
    "keep the minimum id" (deterministic, join-free — the keeper IS the
    label).  Only clustered docs appear (singletons were never in a pair).
    """
    cc = connected_components(pairs, src_col, dst_col, max_iter)
    w = Window.partitionBy("component")
    out = (
        cc.withColumn("cluster_size", F.count("*").over(w))
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("is_keeper"),
        )
    )
    # carry the cc result's checkpoint handle so release_components works
    # on the frame callers actually hold
    out._yatsm_ckpt_ids = getattr(cc, "_yatsm_ckpt_ids", set())  # type: ignore[attr-defined]
    return out


def quality_keepers(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Re-pick each cluster's keeper as the member with the HIGHEST
    ``score_col`` (ties -> smallest doc id) instead of the min-id
    default — the RefinedWeb/Dolma "keep the best copy" policy: among
    near-duplicates the longest / highest-quality variant survives, the
    truncated or boilerplate-padded mirrors drop.

    ``scores`` is a slim (doc_col, score_col) frame; only CLUSTERED docs
    join (cluster membership is ~the duplicate fraction of the corpus,
    never corpus-sized).  score must be integer-valued (length, token
    count, an integer-x1e4 quality score) so the argmax is
    engine/partitioning-exact.  Returns the clusters frame with
    is_keeper recomputed; cluster_id / cluster_size unchanged — the
    LABEL stays the min id (stable across policy changes), only the
    SURVIVOR moves.

    Scale shape: one slim equi-join + one window over cluster_id —
    both proportional to clustered docs only.
    """
    joined = clusters.join(
        scores.select(F.col(doc_col), F.col(score_col).cast("long").alias("_s")),
        doc_col,
    )
    w = Window.partitionBy("cluster_id")
    best = F.min(F.struct((-F.col("_s")).alias("ns"), F.col(doc_col).alias("kid"))).over(w)
    out = joined.withColumn(
        "is_keeper", F.col(doc_col) == best["kid"]
    ).drop("_s")
    out._yatsm_ckpt_ids = getattr(clusters, "_yatsm_ckpt_ids", set())  # type: ignore[attr-defined]
    return out
