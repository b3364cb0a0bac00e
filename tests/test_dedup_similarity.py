"""Dedup / similarity / text-analysis operators — semantic unit tests.
Cross-engine (DuckDB) parity for the same ops is covered by
__spark_entry__ + tests/test_oracle.py."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from yatsm_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_rows,
    simhash_docs,
)
from yatsm_spark.operators.similarity import brute_topk, lsh_bucket_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different text about spark engines here"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "tiny"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs).collect()
    dup = [r for r in out if r["n_docs"] == 2]
    assert len(dup) == 1 and dup[0]["keeper_id"] == 0
    assert len(out) == 4  # 5 docs, one pair collapsed


def test_shingle_rows_counts(docs):
    sh = shingle_rows(docs, 3)
    counts = {r["id"]: r["cnt"] for r in sh.groupBy("id").agg(F.count("*").alias("cnt")).collect()}
    assert counts[0] == 7  # 9 tokens -> 7 trigrams, all distinct
    assert 4 not in counts  # no shingles for 1-token doc


def test_jaccard_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, 3, 0.3).collect()}
    assert pairs[(0, 3)] == 1.0  # exact dup
    assert 0.4 < pairs[(0, 1)] < 1.0  # near dup shares 6/8 trigrams
    assert (0, 2) not in pairs


def test_minhash_identical_sigs_for_dups(docs):
    sigs = {r["id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]
    assert len(sigs[0]) == 16
    pairs = {(r["id_a"], r["id_b"]): r["sig_sim"] for r in minhash_lsh_pairs(docs).collect()}
    assert pairs[(0, 3)] == 1.0


def test_minhash_hash_tiers_same_dedup_semantics(docs):
    """The "fast" (xxhash64) production tier and the "portable" (md5)
    oracle tier live in different hash domains but must make the SAME
    dedup decisions: identical docs -> identical sigs, and the >=0.5
    LSH pair set over the fixture corpus is equal (planted dups are
    either exact or far, so the tiers cannot legitimately disagree)."""
    sigs_fast = {r["id"]: r["sig"] for r in minhash_signatures(docs, hash_fn="fast").collect()}
    sigs_port = {r["id"]: r["sig"] for r in minhash_signatures(docs, hash_fn="portable").collect()}
    assert set(sigs_fast) == set(sigs_port)  # same docs survive (>=k tokens)
    assert sigs_fast[0] == sigs_fast[3] and sigs_port[0] == sigs_port[3]
    assert sigs_fast[0] != sigs_port[0]  # genuinely different domains
    pf = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, hash_fn="fast").filter("sig_sim >= 0.5").collect()
    }
    pp = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, hash_fn="portable").filter("sig_sim >= 0.5").collect()
    }
    assert pf == pp


def test_simhash_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs, bits=32).collect()}
    assert sh[0] == sh[3]
    ham = bin(sh[0] ^ sh[1]).count("1")
    ham_far = bin(sh[0] ^ sh[2]).count("1")
    assert ham < ham_far  # near-dup closer in Hamming space


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_topk_order(vectors):
    out = brute_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r["n_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_lsh_topk_finds_close_neighbor(vectors):
    out = lsh_bucket_topk(vectors, vectors.filter(F.col("vec_id") == 0), dim=3, k=2, n_planes=4)
    got = [r["n_id"] for r in out.collect()]
    assert 1 in got  # same-octant neighbor always shares the bucket
    assert 4 not in got  # opposite vector can never share all sign bits


def test_lsh_neardup_subset_of_exact(vectors):
    """Precision contract: every LSH pair is exact-scored, so the LSH set
    is a subset of the all-pairs exact set; the near-identical pair (0,1)
    must be recalled (same octant under any hyperplane set)."""
    from yatsm_spark.operators.similarity import cosine_neardup_pairs, lsh_neardup_pairs

    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_neardup_pairs(vectors, threshold=0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in lsh_neardup_pairs(
            vectors, dim=3, threshold=0.9, n_planes=4, n_tables=2
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert (0, 1) in lsh
    for k, v in lsh.items():
        assert exact[k] == v  # exact-scored, not approximated


def test_lsh_neardup_plan_has_no_nested_loop_join(vectors):
    """Scale contract: the pair join must be a hash/sort-merge equi-join on
    (table, bucket) — never BroadcastNestedLoopJoin / CartesianProduct
    (the O(N^2) shape the LSH path exists to avoid)."""
    from yatsm_spark.operators.similarity import lsh_neardup_pairs

    plan = lsh_neardup_pairs(vectors, dim=3, n_planes=4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_topk_probes_limit_search(vectors):
    """IVF with 2 hash-stratified seed centroids.  md5-hash order of ids
    0..4 is [4, 1, 2, 0, 3], so the seeds are vecs 4 ([-1,0,0]) and 1
    ([.9,.1,0]); cells: {4} and {0,1,2,3} (vec 3 ties 0.0/0.0 and takes
    the LOWEST cid, 1).  n_probe=1: query 4 probes only its own
    singleton cell -> no neighbors.  n_probe=2: the other cell is
    searched too -> [2, 3] (both sim 0.0, id tie-break; 0/1 are
    antipodal)."""
    from yatsm_spark.operators.similarity import ivf_topk

    out1 = ivf_topk(
        vectors, vectors.filter(F.col("vec_id") == 4), k=2, n_cells=2, n_probe=1
    ).collect()
    assert out1 == []  # own cell holds nothing else
    out = ivf_topk(
        vectors, vectors.filter(F.col("vec_id") == 4), k=2, n_cells=2, n_probe=2
    )
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["n_id"] for r in rows] == [2, 3]
    # the scoring join (post-probe) is keyed on cell: no all-pairs scan of
    # vectors x queries anywhere after the tiny centroid broadcast (AQE
    # plan strings repeat initial+final plans; inspect the final one only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 2  # the two K-row centroid crossJoins


def test_ivf_topk_string_ids(spark):
    """id_col is a general parameter: string ids must work end-to-end
    (the cell tie-break orders on (-csim, cid) structs, no arithmetic on
    the id)."""
    from yatsm_spark.operators.similarity import ivf_topk

    rows = [
        ("a", [1.0, 0.0]),
        ("b", [0.9, 0.1]),
        ("c", [0.0, 1.0]),
        ("d", [-1.0, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = ivf_topk(df, df.filter(F.col("vec_id") == "a"), k=2, n_cells=2, n_probe=2)
    got = [r["n_id"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert got[0] == "b"


def test_ivf_cell_population_skew_bounded(spark):
    """Hash-stratified seeds must spread cells over the data distribution:
    on the sf0.01 embeddings table (500 vecs, 16 cells) no cell may hold
    more than ~6x the mean population, and most cells must be non-empty —
    the skew contract that keeps the cell-keyed shuffle balanced at real
    N (lowest-id seeding gave no such guarantee)."""
    import os

    from yatsm_spark.operators.similarity import _hyperplanes  # noqa: F401  (import sanity)
    from yatsm_spark.operators.similarity import cosine_sim_col, ivf_topk  # noqa: F401

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    n_cells = 16
    # reproduce the assignment stage exactly as ivf_topk builds it
    seed_hash = F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    cents = (
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_vec"),
                   seed_hash.alias("_h"))
        .orderBy(F.col("_h").asc(), F.col("cid").asc())
        .limit(n_cells)
        .drop("_h")
    )
    scored = (
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
        .crossJoin(F.broadcast(cents))
        .withColumn("csim", F.round(cosine_sim_col(F.col("n_vec"), F.col("c_vec")), 6))
    )
    assign = (
        scored.groupBy("n_id")
        .agg(F.min(F.struct((-F.col("csim")).alias("nsim"), F.col("cid"))).alias("_s"))
        .select(F.col("_s.cid").alias("cell"))
    )
    pops = [r["cnt"] for r in assign.groupBy("cell").agg(F.count("*").alias("cnt")).collect()]
    n_vecs = sum(pops)
    mean = n_vecs / n_cells
    assert len(pops) >= n_cells * 3 // 4  # most cells populated
    assert max(pops) <= 6 * mean, f"hot cell {max(pops)} vs mean {mean:.1f}"


def test_canonicalize_url_collapses_variants(spark):
    """Raw variants of one page must canonicalize identically so the
    exact-dedup fingerprint collapses them; distinct pages stay distinct."""
    from yatsm_spark.functions.textops import canonicalize_url

    rows = [
        (0, "HTTP://X.Example.COM:80/a?b=2&a=1#top"),
        (1, "http://x.example.com/a?a=1&b=2"),
        (2, "https://x.example.com/a?a=1&b=2"),       # different scheme
        (3, "http://x.example.com/a?a=1&b=2&utm_c=z"),  # tracking param
        (4, "http://x.example.com/"),
        (5, "http://x.example.com"),                   # empty path -> '/'
        (6, "x.example.com/a?a=1"),                    # schemeless
        (7, "not a url at all"),                       # unparseable
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r["id"]: r["c"] for r in df.select("id", canonicalize_url("url").alias("c")).collect()}
    assert got[0] == got[1] == got[3] == "http://x.example.com/a?a=1&b=2"
    assert got[2] == "https://x.example.com/a?a=1&b=2"
    assert got[4] == got[5] == "http://x.example.com/"
    # schemeless / unparseable inputs pass through unchanged — they must
    # NOT collapse onto a shared fabricated '://' key
    assert got[6] == "x.example.com/a?a=1" and got[7] == "not a url at all"
    # idempotency: canonical output is a fixed point
    twice = {
        r["id"]: r["c2"]
        for r in df.select(
            "id", canonicalize_url(canonicalize_url("url")).alias("c2")
        ).collect()
    }
    assert twice == got


def test_lsh_neardup_gram_strategy_identical(vectors):
    """The per-bucket GEMM kernel's slab blocking must not change the
    emitted set: a block boundary inside a bucket exercises the
    global-index triangle mask."""
    from yatsm_spark.operators.similarity import lsh_neardup_pairs

    kw = dict(dim=3, threshold=0.5, n_planes=4, n_tables=2)
    g = sorted(map(tuple, lsh_neardup_pairs(vectors, **kw).collect()))
    g2 = sorted(map(tuple, lsh_neardup_pairs(vectors, block_rows=2, **kw).collect()))
    assert g2 == g and len(g) > 0


def test_hash_split_partition_invariant(docs):
    """Split membership is a pure function of the key: identical under
    repartitioning (df.sample would not be), fractions roughly honored,
    and the 10% sample is a subset of rows with bucket < 10."""
    from yatsm_spark.functions.textops import hash_sample, hash_split

    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id").collect()
    }
    assert a == b and set(a.values()) <= {"train", "val", "test"}
    s1 = {r["doc_id"] for r in hash_sample(docs, 40, "doc_id").collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs.repartition(3), 40, "doc_id").collect()}
    assert s1 == s2
    # monotone: a 40% sample contains the 20% sample (same salt)
    s_small = {r["doc_id"] for r in hash_sample(docs, 20, "doc_id").collect()}
    assert s_small <= s1


# ---------------------------------------------------------------- graph CC


def _union_find_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in {x for e in edges for x in e})


def test_connected_components_chain_clique_bridge(spark):
    """Chain (worst diameter), clique, and 2-node bridge in one graph."""
    from yatsm_spark.operators.graph import connected_components

    edges = [(2, 1), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),
             (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = sorted((r.id, r.component) for r in connected_components(df).collect())
    assert got == _union_find_components(edges)


def test_connected_components_random_matches_union_find(spark):
    """120-edge seeded random graph == Python union-find ground truth."""
    import random

    from yatsm_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = sorted((r.id, r.component) for r in connected_components(df).collect())
    assert got == _union_find_components(edges)


def test_neardup_clusters_keeper_and_sizes(spark):
    """Cluster label = min id = the keeper; sizes count members."""
    from yatsm_spark.operators.graph import neardup_clusters

    df = spark.createDataFrame(
        [(5, 9), (9, 3), (30, 31)], "id_a int, id_b int"
    )
    rows = {r.doc_id: r for r in neardup_clusters(df).collect()}
    assert rows[3].cluster_id == 3 and rows[3].is_keeper
    assert rows[5].cluster_id == 3 and not rows[5].is_keeper
    assert rows[9].cluster_size == 3
    assert rows[30].cluster_size == 2 and rows[31].cluster_id == 30


def _jobs_started(spark, group, fn) -> tuple:
    """Run ``fn`` in a fresh job group; (its result, Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_pairs_only_runs_no_star_round(spark, monkeypatch):
    """Disjoint pairs are already a star forest: the exact convergence
    test passes on the input adjacency, so the only checkpoints are that
    adjacency and the result — no star round, no confirmation round."""
    from yatsm_spark.operators import graph

    calls = []
    checkpoint = graph._checkpoint
    monkeypatch.setattr(
        graph, "_checkpoint", lambda df: calls.append(1) or checkpoint(df)
    )
    df = spark.createDataFrame([(1, 2), (3, 4), (6, 5)], "id_a long, id_b long")
    got = sorted(tuple(r) for r in graph.connected_components(df).collect())
    assert got == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 5)]
    assert len(calls) == 2


def test_neardup_clusters_job_budget(spark):
    """One star round on the 3-edge graph of the keeper test: the
    convergence count rides each round's checkpoint, so the whole call
    stays within 11 Spark jobs."""
    from yatsm_spark.operators.graph import neardup_clusters, release_components

    df = spark.createDataFrame([(5, 9), (9, 3), (30, 31)], "id_a int, id_b int")
    out, n_jobs = _jobs_started(spark, "cc_job_budget", lambda: neardup_clusters(df))
    release_components(out)
    assert n_jobs <= 11


def test_connected_components_string_ids(spark):
    """Labels are min-by-total-order — works for string doc ids too."""
    from yatsm_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicate_span_stats_hand_values(spark):
    from yatsm_spark.operators.dedup import duplicate_span_stats

    rows = [
        (0, "a b c d e"),        # spans: "a b c","b c d","c d e"
        (1, "x a b c d y"),      # shares "a b c","b c d" with doc 0
        (2, "p q r p q r p q"),  # repeats internally only -> no cross-doc
        (3, "zz"),               # shorter than k -> (0,0,0)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_span_stats(docs, k=3).collect()}
    assert (out[0].n_spans, out[0].n_dup_spans) == (3, 2)
    assert out[0].dup_span_frac_x1e4 == 6667            # 2/3 half-up
    assert (out[1].n_spans, out[1].n_dup_spans) == (4, 2)
    assert out[1].dup_span_frac_x1e4 == 5000
    # within-doc repeats don't flag: "p q r" occurs twice but in ONE doc
    assert (out[2].n_spans, out[2].n_dup_spans) == (6, 0)
    assert (out[3].n_spans, out[3].n_dup_spans, out[3].dup_span_frac_x1e4) == (0, 0, 0)


def test_lsh_max_bucket_star_guard(spark):
    """Hot-bucket guard: an oversized bucket emits star edges (B-1 pairs
    to the min-id root) instead of all B(B-1)/2 pairs; small buckets keep
    exact all-pairs semantics; cluster membership survives either way."""
    from yatsm_spark.operators.dedup import minhash_lsh_pairs
    from yatsm_spark.operators.graph import neardup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(f"d{i:03d}", base) for i in range(30)]  # one giant dup family
    rows += [("x001", "one two three four five six seven"),
             ("x002", "one two three four five six seven")]  # a small family
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    full = minhash_lsh_pairs(docs).toPandas()
    m: dict = {}
    star = minhash_lsh_pairs(docs, max_bucket=10, metrics=m).toPandas()
    # 30-doc family: 435 all-pairs vs 29 star edges; small family untouched
    assert len(full) == 435 + 1
    assert len(star) == 29 + 1
    # no-silent-caps: the guard reports what it demoted — the 30-doc
    # family shares all 4 bands -> 4 oversized buckets of 30 rows each
    assert m == {"lsh_star_buckets": 4, "lsh_star_rows": 120}
    big = star[star.id_a.str.startswith("d")]
    assert (big.id_a == "d000").all()  # min-id root
    assert (big.sig_sim == 1.0).all()
    assert len(star[star.id_a == "x001"]) == 1

    cc = neardup_clusters(
        minhash_lsh_pairs(docs, max_bucket=10).filter("sig_sim >= 0.5")
    ).toPandas()
    fam = cc[cc.doc_id.str.startswith("d")]
    assert fam.cluster_id.nunique() == 1 and len(fam) == 30


def test_lsh_star_metrics_start_no_extra_job(spark):
    """The star-guard counters are observed on the banding checkpoint:
    asking for them costs no Spark job."""
    from yatsm_spark.operators.dedup import minhash_lsh_pairs
    from yatsm_spark.operators.graph import release_components

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(f"d{i:03d}", base) for i in range(30)], ["doc_id", "text"]
    )
    m: dict = {}
    plain, n_plain = _jobs_started(
        spark, "lsh_plain", lambda: minhash_lsh_pairs(docs, max_bucket=10)
    )
    metered, n_metered = _jobs_started(
        spark, "lsh_metered",
        lambda: minhash_lsh_pairs(docs, max_bucket=10, metrics=m),
    )
    release_components(plain)
    release_components(metered)
    assert m == {"lsh_star_buckets": 4, "lsh_star_rows": 120}
    assert n_metered <= n_plain


def test_generate_webtext_planted_structure(spark):
    """Diverse-text corpus generator: slot 7 is an exact dup of slot 0,
    slots 8/9 near-dups, slot 6 of every 3rd block spam; bit-identical
    under different parallelism (north_rule cluster-size invariance)."""
    from pyspark.sql import functions as F

    from yatsm_spark.datagen import generate_webtext

    wt = generate_webtext(spark, n_docs=100).cache()
    txt = {r.url: r.text for r in wt.collect()}
    u = lambda i: f"https://site{i % 5000}.example/p/{i}"  # noqa: E731
    for b in range(10):
        assert txt[u(b * 10 + 7)] == txt[u(b * 10)]
        w0, w8 = txt[u(b * 10)].split(), txt[u(b * 10 + 8)].split()
        if not txt[u(b * 10)].startswith("click here"):
            same = sum(1 for x, y in zip(w0, w8) if x == y) / len(w0)
            assert 0.80 <= same < 1.0
    assert sum(1 for t in txt.values() if t.startswith("click here")) == 4
    h1 = wt.select(F.md5(F.concat_ws("|", "url", "text", "lang")).alias("h"))
    h2 = (
        generate_webtext(spark, n_docs=100)
        .repartition(7)
        .select(F.md5(F.concat_ws("|", "url", "text", "lang")).alias("h"))
    )
    assert h1.exceptAll(h2).count() == 0 and h2.exceptAll(h1).count() == 0
    wt.unpersist()


def test_connected_components_releases_round_checkpoints(spark):
    """Each CC call must leave exactly ONE persisted block set (the
    result) and release_components must free that too — superseded
    per-round localCheckpoints leaked for the session lifetime before."""
    from yatsm_spark.operators.graph import (
        _persistent_ids,
        neardup_clusters,
        release_components,
    )

    sc = spark.sparkContext
    before = _persistent_ids(sc)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (21, 22)],
        "id_a long, id_b long",
    )
    out = neardup_clusters(df)
    n_rows = out.count()
    held = _persistent_ids(sc) - before
    assert len(held) == 1, f"expected 1 surviving checkpoint, got {held}"
    release_components(out)
    assert _persistent_ids(sc) - before == set()
    assert n_rows > 0


def test_ann_recall_floor_vs_brute_force(spark):
    """Recall@5 of both ANN families vs exact brute force on seeded
    CLUSTERED embeddings (the regime ANN configs are tuned for — true
    neighbors are co-clustered).  Determinism tests alone would keep a
    silently-useless quantizer config green; this pins usefulness."""
    import numpy as np

    from yatsm_spark.operators.similarity import (
        brute_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    rng = np.random.default_rng(7)
    dim, per_cluster = 12, 20
    cents = rng.normal(size=(15, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in cents:
        for _ in range(per_cluster):
            v = c + 0.15 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vectors.filter(F.col("vec_id") % 30 == 0)  # 10 queries

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.q_id, set()).add(r.n_id)
        return out

    truth = topk_sets(brute_topk(vectors, queries, k=5))
    assert truth and all(len(v) == 5 for v in truth.values())

    for name, ann in (
        ("lsh", lsh_bucket_topk(vectors, queries, dim=dim, k=5, n_planes=6,
                                n_tables=4)),
        ("ivf", ivf_topk(vectors, queries, k=5, n_cells=12, n_probe=3)),
    ):
        got = topk_sets(ann)
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        recall = hits / (5 * len(truth))
        assert recall >= 0.8, f"{name} recall@5 = {recall:.2f} < 0.8"


def test_cut_duplicate_spans_hand_values(spark):
    """CUT stage of exact-substring dedup: tokens inside a cross-doc
    k-gram are removed; within-doc repeats alone never flag; null text
    passes through as ''."""
    from yatsm_spark.operators.dedup import cut_duplicate_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),   # shares "a b" with doc 1
            (1, "x a b y"),
            (2, "q q q"),     # "q q" repeats WITHIN one doc only
            (3, "z"),         # shorter than k: no spans
            (4, None),        # null -> '' (one empty token)
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text_cut, r.n_tokens_kept, r.n_tokens_cut)
        for r in cut_duplicate_spans(docs, k=2).collect()
    }
    assert out[0] == ("c d", 2, 2)
    assert out[1] == ("x y", 2, 2)
    assert out[2] == ("q q q", 3, 0)
    assert out[3] == ("z", 1, 0)
    assert out[4] == ("", 1, 0)


def test_semantic_dedup_hand_values_single_cell(spark):
    """n_cells=1 puts everything in one cell, so the keep rule is pure
    'dropped iff a lower-id neighbor >= threshold exists' — hand-checkable."""
    from yatsm_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # ~v0 -> dropped
        (2, [0.0, 1.0, 0.0]),      # orthogonal -> kept
        (3, [0.01, 0.999, 0.0]),   # ~v2 -> dropped
        (4, [0.0, 0.0, 1.0]),      # orthogonal -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(df, 0.95, n_cells=1).collect()}
    assert out == {0: 1, 1: 0, 2: 1, 3: 0, 4: 1}


def test_semantic_dedup_clustered_invariants(spark):
    """On seeded clustered embeddings: every row survives to the output,
    the min-id member of each cell is always kept, and dense duplicate
    groups actually lose members (the filter does real work)."""
    import numpy as np

    from yatsm_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    dim = 12
    cents = rng.normal(size=(10, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in cents:
        for _ in range(15):
            v = c + 0.05 * rng.normal(size=dim)  # tight: within-cluster sim ~0.99
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.9, n_cells=10).collect()
    assert len(out) == 150  # lineage: every input row present
    kept = [r for r in out if r["kept"] == 1]
    assert 5 <= len(kept) <= 40  # ~1 representative per dense group survives
    by_cell_min = {}
    for r in out:
        cur = by_cell_min.get(r["cell"])
        if cur is None or r["vec_id"] < cur["vec_id"]:
            by_cell_min[r["cell"]] = r
    assert all(r["kept"] == 1 for r in by_cell_min.values())


def test_paragraph_dedup_hand_values(spark):
    from yatsm_spark.operators.dedup import paragraph_dedup

    boiler = "accept our cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\nalpha beta\ngamma"),
            (2, f"{boiler}\ndelta"),
            (3, f"unique one\n{boiler}\nunique two\n{boiler}"),
            (4, None),  # null text -> one empty paragraph, survives
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    # the boilerplate line appears in 3 docs (> max_docs=1) -> every
    # occurrence drops, including BOTH inside doc 3; order preserved
    assert out[1]["clean_text"] == "alpha beta\ngamma"
    assert out[2]["clean_text"] == "delta"
    assert out[3]["clean_text"] == "unique one\nunique two"
    assert out[3]["n_dropped"] == 2 and out[3]["n_paras"] == 4
    # '' occurs in 2 docs (4 and 5) -> also boilerplate under max_docs=1
    assert out[4]["clean_text"] == "" and out[4]["n_dropped"] == 1
    assert out[5]["n_dropped"] == 1


def test_paragraph_dedup_max_docs_threshold(spark):
    from yatsm_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "shared\nown1"), (2, "shared\nown2")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs, max_docs=2).collect()}
    # 'shared' is in exactly 2 docs, max_docs=2 -> kept everywhere
    assert out[1]["clean_text"] == "shared\nown1"
    assert out[1]["n_dropped"] == 0


def _kmeans_mirror(pts, k, n_iter, scale=1_000_000):
    """Pure-python mirror of kmeans_exact's integer Lloyd's iteration."""
    import hashlib
    import math

    xu = {i: [math.floor(x * scale) for x in v] for i, v in pts.items()}
    order = sorted(
        xu, key=lambda i: (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16), i)
    )
    cents = {i: list(xu[i]) for i in order[:k]}

    def assign(cents):
        out = {}
        for n_id, x in xu.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(x, cu)), cid)
                for cid, cu in cents.items()
            )
            out[n_id] = best  # (d2, cid)
        return out

    for _ in range(n_iter):
        a = assign(cents)
        groups = {}
        for n_id, (_, cid) in a.items():
            groups.setdefault(cid, []).append(xu[n_id])
        cents = {
            cid: [sum(col) // len(xs) for col in zip(*xs)]
            for cid, xs in groups.items()
        }
    return {n_id: (cid, d2) for n_id, (d2, cid) in assign(cents).items()}


def test_kmeans_exact_matches_python_mirror(spark):
    """The integer Lloyd's fit must equal a from-scratch python mirror
    bit-for-bit — the determinism claim IS the spec."""
    from yatsm_spark.operators.similarity import kmeans_exact

    import random

    rng = random.Random(42)
    pts = {
        i: [rng.uniform(-1, 1) + (3.0 if i % 3 == 0 else 0.0) for _ in range(4)]
        for i in range(30)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "vec_id long, embedding array<double>"
    )
    exp = _kmeans_mirror(pts, k=3, n_iter=2)
    got = {
        r["n_id"]: (r["cluster"], r["d2"])
        for r in kmeans_exact(df, k=3, n_iter=2, dim=4).collect()
    }
    assert got == exp


def test_kmeans_exact_partitioning_invariant(spark):
    """Same fit regardless of input partitioning (the float-kmeans
    failure mode the integer algebra exists to remove)."""
    from yatsm_spark.operators.similarity import kmeans_exact

    import random

    rng = random.Random(7)
    pts = [(i, [rng.uniform(0, 1) for _ in range(4)]) for i in range(40)]
    df1 = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    df2 = df1.repartition(13)
    a = sorted(kmeans_exact(df1, k=4, n_iter=2, dim=4).collect())
    b = sorted(kmeans_exact(df2, k=4, n_iter=2, dim=4).collect())
    assert a == b


# ---------------------------------------------------- simhash_neardup_pairs


def test_simhash_neardup_banding_is_lossless(spark):
    """Pigeonhole property, end to end: the banded+verified pair set
    equals the brute-force all-pairs Hamming<=k set on the same
    signatures."""
    from itertools import combinations

    from yatsm_spark.operators.dedup import simhash_docs, simhash_neardup_pairs

    rows = [(i, f"w{i % 7} w{(i * 3) % 11} common tokens here x{i % 4}")
            for i in range(40)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta"),
             (102, "alpha beta gamma delta epsilon")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(d, max_hamming=3).collect()
    )
    sh = {r.doc_id: r.simhash for r in simhash_docs(d, bits=32).collect()}
    want = sorted(
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a, b in combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    )
    assert got == want
    assert (100, 101, 0) in got  # identical docs collide exactly


def test_simhash_neardup_guard_and_validation(spark):
    import pytest as _pytest

    from yatsm_spark.operators.dedup import simhash_neardup_pairs

    d = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "a b c")],
        "doc_id long, text string",
    )
    # three identical docs share every band; max_bucket=2 drops those
    # buckets entirely (documented recall loss on degenerate clusters),
    # and the no-silent-caps metrics report the 4 dropped buckets
    m: dict = {}
    assert simhash_neardup_pairs(d, max_bucket=2, metrics=m).count() == 0
    assert m == {"simhash_dropped_buckets": 4, "simhash_dropped_rows": 12}
    assert simhash_neardup_pairs(d).count() == 3  # all pairs, hamming 0
    with _pytest.raises(ValueError):
        simhash_neardup_pairs(d, bands=4, max_hamming=4)
    with _pytest.raises(ValueError):
        simhash_neardup_pairs(d, bits=32, bands=5)


def test_jaccard_no_self_pairs_on_duplicate_id_rows(spark):
    # duplicated doc_id rows (violating the documented unique-id
    # precondition) must never surface as a self-pair — the
    # id_a != id_b filter is the hard guarantee (ADVICE r4)
    d = spark.createDataFrame(
        [(1, "a b c d"), (1, "a b c d"), (2, "a b c e")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(d, k=3, threshold=0.0).collect()
    assert all(r["id_a"] != r["id_b"] for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)
