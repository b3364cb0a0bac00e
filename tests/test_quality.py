"""Quality / decontamination / PII operators — semantic unit tests.
Cross-engine parity is covered by __spark_entry__ + tests/test_oracle.py
(docs_repetition, docs_decontam, docs_pii_redact)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from yatsm_spark.operators.quality import decontaminate, repetition_stats


@pytest.fixture(scope="module")
def qdocs(spark):
    rows = [
        (0, "a a a a"),                 # maximal repetition
        (1, "a b c d"),                 # no repetition
        (2, "x y x y x y"),             # repeated bigram pattern
        (3, "solo"),                    # single token -> no bigrams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_values(qdocs):
    out = {r.doc_id: r for r in repetition_stats(qdocs).collect()}
    r0 = out[0]
    assert r0.n_tokens == 4
    assert r0.distinct_frac_x1e4 == 2500          # 1/4
    assert r0.top_token_frac_x1e4 == 10000        # 4/4
    assert r0.dup_bigram_frac_x1e4 == 6667        # (3-1)/3 half-up
    r1 = out[1]
    assert r1.distinct_frac_x1e4 == 10000
    assert r1.top_token_frac_x1e4 == 2500
    assert r1.dup_bigram_frac_x1e4 == 0
    r2 = out[2]
    assert r2.n_tokens == 6
    assert r2.distinct_frac_x1e4 == 3333          # 2/6
    # bigrams: x y, y x, x y, y x, x y -> 5 total, 2 distinct
    assert r2.dup_bigram_frac_x1e4 == 6000
    r3 = out[3]
    assert r3.n_tokens == 1 and r3.dup_bigram_frac_x1e4 == 0


def test_decontaminate_flags_verbatim_overlap(spark):
    train = spark.createDataFrame(
        [
            (10, "the secret benchmark answer is forty two exactly"),
            (11, "totally unrelated words about spark shuffles here"),
            (12, "prefix the secret benchmark answer is shared twice over "
                 "the secret benchmark answer is"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "the secret benchmark answer is forty two")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_hits for r in decontaminate(train, bench, k=5).collect()}
    assert 11 not in out
    # bench (7 tokens) emits 3 five-grams; doc 10 contains all of them
    assert out[10] == 3
    # doc 12 contains "the secret benchmark answer is" twice — distinct
    # k-grams count once (shingle_rows dedups per doc)
    assert out[12] == 1


def test_decontaminate_plan_broadcasts_benchmark(spark):
    train = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c d")], "doc_id long, text string")
    plan = decontaminate(train, bench, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_redact_pii_and_counts(spark):
    from yatsm_spark.functions.textops import pii_counts, redact_pii

    rows = [
        (0, "reach me at a.b1@x.co or at 10.0.0.1 today"),
        (1, "no pii here at all"),
        (2, "two mails x@y.io z@w.net one ip 255.1.2.3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select("doc_id", *pii_counts("text"),
                           redact_pii("text").alias("red")).collect()
    }
    assert out[0].n_emails == 1 and out[0].n_ips == 1
    assert out[0].red == "reach me at <EMAIL> or at <IP> today"
    assert out[1].n_emails == 0 and out[1].n_ips == 0
    assert out[1].red == rows[1][1]
    assert out[2].n_emails == 2 and out[2].n_ips == 1
    assert out[2].red == "two mails <EMAIL> <EMAIL> one ip <IP>"


def test_keep_top_fraction_exact_rank_semantics(spark):
    from yatsm_spark.operators.quality import keep_top_fraction

    rows = [(i, "en", 100 - i) for i in range(8)]          # scores 100..93
    rows += [(100, "de", 5), (101, "de", 9), (102, "de", 9)]  # n=3 < 4
    df = spark.createDataFrame(rows, "doc_id long, lang string, score long")
    kept = {r.doc_id for r in keep_top_fraction(df, "score", by=["lang"]).collect()}
    assert kept == {0, 1}            # top 2 of 8 en docs; de (n=3) keeps none
    # half instead of quarter: de keeps 1 (ties 9,9 -> min doc_id wins)
    kept2 = {
        r.doc_id
        for r in keep_top_fraction(df, "score", by=["lang"], keep_den=2).collect()
    }
    assert kept2 == {0, 1, 2, 3, 101}


def test_domain_cap_two_phase_equals_one_window(spark):
    from yatsm_spark.operators.quality import domain_cap

    rows = [(i, f"src{i % 3}", (i * 37) % 50) for i in range(60)]
    # inject score ties inside one domain to exercise the id tie-break
    rows += [(100, "src0", 49), (101, "src0", 49)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, score long"
    ).repartition(7)
    one = sorted(map(tuple, domain_cap(df, "score", 5, two_phase=False).collect()))
    two = sorted(map(tuple, domain_cap(df, "score", 5, two_phase=True).collect()))
    assert one == two
    per_dom = {}
    for _, src, _ in one:
        per_dom[src] = per_dom.get(src, 0) + 1
    assert all(v == 5 for v in per_dom.values())
    # top scores actually kept: src0 has the two injected 49s
    kept0 = {d for d, s, _ in one if s == "src0"}
    assert {100, 101} <= kept0


def test_pack_token_budget_prefix_semantics(spark):
    from yatsm_spark.operators.quality import pack_token_budget

    # (id, score, weight) -- order: score desc, id asc
    rows = [
        (0, 30, 10),
        (1, 30, 10),   # after score-30 class: cum 20
        (2, 20, 15),   # cum 35
        (3, 20, 100),  # overflows at budget 40 -> dropped, and everything after
        (4, 10, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score long, w long")
    kept = {r.doc_id for r in pack_token_budget(df, "score", "w", 40).collect()}
    assert kept == {0, 1, 2}
    # budget swallows everything -> identity
    all_kept = {r.doc_id for r in pack_token_budget(df, "score", "w", 10_000).collect()}
    assert all_kept == {0, 1, 2, 3, 4}
    # zero budget -> nothing
    assert pack_token_budget(df, "score", "w", 0).count() == 0


def test_pack_token_budget_matches_bruteforce(spark):
    from yatsm_spark.operators.quality import pack_token_budget

    rows = [(i, (i * 13) % 7, (i * 29) % 11 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score long, w long")
    for budget in (0, 37, 250, 400, 10_000):
        got = {r.doc_id for r in pack_token_budget(df, "score", "w", budget).collect()}
        cum, want = 0, set()
        for i, s, w in sorted(rows, key=lambda r: (-r[1], r[0])):
            if cum + w > budget:
                break
            cum += w
            want.add(i)
        assert got == want, budget


def test_repetition_stats_null_text_emits_row(spark):
    """NULL text coalesces to '' (one empty token) — a quality gate built
    as an anti-join on the flagged set cannot be bypassed by null text."""
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].n_tokens == 1 and out[1].n_tokens == 1
    assert out[0].dup_bigram_frac_x1e4 == 0


def test_x1e4_exact_past_bigint_wrap(spark):
    """_x1e4 arithmetic is decimal(38,0): 20000*num in bigint wraps past
    num ~ 4.6e14; product-shaped inputs (terms.py tf*N) reach ~1e37."""
    from yatsm_spark.operators.quality import _x1e4

    from decimal import Decimal

    cases = [
        (10**18, 3 * 10**18),            # 10000/3 -> 3333 (half-up)
        (5 * 10**17, 10**18),            # exactly .5 -> 5000
        (7, 2 * 10**18),                 # rounds to 0
    ]
    df = spark.createDataFrame(
        [(Decimal(n), Decimal(d)) for n, d in cases],
        "num decimal(38,0), den decimal(38,0)",
    )
    got = [
        r.v for r in df.select(_x1e4(F.col("num"), F.col("den")).alias("v"))
        .collect()
    ]
    assert got == [3333, 5000, 0]


def test_pack_token_budget_constant_score_distributed_boundary(spark):
    """Degenerate input: ONE score class (the whole corpus is the
    boundary).  The prefix sum must stay correct, run distributed (no
    single-reducer global window in the plan), report the boundary row
    count, and use STRING ids (the corpus packs on doc_id=url)."""
    from yatsm_spark.operators.graph import release_components
    from yatsm_spark.operators.quality import pack_token_budget

    rows = [(f"url{i:04d}", 5, (i * 29) % 11 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, score long, w long")
    budget = 600
    m: dict = {}
    out = pack_token_budget(
        df, "score", "w", budget, boundary_partitions=8, metrics=m
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the global-order single-reducer form shows up as an Exchange to a
    # SinglePartition followed by a Window with no partition spec
    assert "SinglePartition" not in plan, plan
    got = {r.doc_id for r in out.collect()}
    cum, want = 0, set()
    for i, s, w in sorted(rows, key=lambda r: (-r[1], r[0])):
        if cum + w > budget:
            break
        cum += w
        want.add(i)
    assert got == want
    assert m["pack_boundary_rows"] == 500
    release_components(out)
