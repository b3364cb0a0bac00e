"""Term-statistics operators — semantic unit tests.
Cross-engine parity is covered by __spark_entry__ + tests/test_oracle.py
(docs_tfidf_terms, docs_commonness)."""

from __future__ import annotations

import pytest

from yatsm_spark.operators.terms import (
    tfidf_cosine_pairs,
    commonness_score,
    term_doc_freq,
    tfidf_top_terms,
)


@pytest.fixture(scope="module")
def tdocs(spark):
    rows = [
        (0, "apple apple banana"),   # apple tf=2 here, df=2; banana df=1
        (1, "apple cherry cherry"),  # cherry tf=2, df=1
        (2, "dog dog dog dog"),      # dog only here
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_term_doc_freq(tdocs):
    df = {r.t: r["df"] for r in term_doc_freq(tdocs).collect()}
    assert df == {"apple": 2, "banana": 1, "cherry": 1, "dog": 1}


def test_tfidf_hand_values(tdocs):
    out = tfidf_top_terms(tdocs, k=1).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 0: apple w = 1e4*2*3/2 = 30000; banana w = 1e4*1*3/1 = 30000
    #        -> tie broken by term asc: apple wins
    assert by_id[0].term == "apple" and by_id[0].tfidf_x1e4 == 30000
    # doc 1: cherry w = 1e4*2*3/1 = 60000 beats apple 15000
    assert by_id[1].term == "cherry" and by_id[1].tfidf_x1e4 == 60000
    # doc 2: dog w = 1e4*4*3/1 = 120000
    assert by_id[2].term == "dog" and by_id[2].tfidf_x1e4 == 120000


def test_tfidf_k_and_determinism(tdocs):
    out = tfidf_top_terms(tdocs, k=2)
    rows = sorted(
        [(r.doc_id, r.term) for r in out.collect()]
    )
    # doc 0 second term: banana (30000, tied with apple, term-asc order)
    assert rows == sorted(
        [(0, "apple"), (0, "banana"), (1, "cherry"), (1, "apple"), (2, "dog")]
    )
    again = sorted([(r.doc_id, r.term) for r in out.collect()])
    assert rows == again


def test_commonness_hand_values(tdocs):
    out = {r.doc_id: r for r in commonness_score(tdocs).collect()}
    # doc 0: tokens apple(df2) x2 + banana(df1) -> sum_df=5, n=3, N=3
    #        1e4*5/9 = 5555.5 -> half-up 5556
    assert out[0].n_tokens == 3 and out[0].mean_df_x1e4 == 5556
    # doc 1: apple2 + cherry(1)*2 -> sum_df=4, 1e4*4/9 = 4444.4 -> 4444
    assert out[1].mean_df_x1e4 == 4444
    # doc 2: dog df1 x4 -> 1e4*4/12 = 3333.3 -> 3333
    assert out[2].mean_df_x1e4 == 3333


def test_shuffled_join_fallback_matches_broadcast(tdocs):
    bc = sorted(map(tuple, tfidf_top_terms(tdocs, k=2).collect()))
    shuffled = sorted(
        map(tuple, tfidf_top_terms(tdocs, k=2, broadcast_threshold=0).collect())
    )
    assert bc == shuffled


# ---------------------------------------------------- tfidf_cosine_pairs


@pytest.fixture(scope="module")
def cdocs(spark):
    # N=3, bitlen(3)=2.  df: a=2,b=2 (idf_q=0, w=tf); c,x,y df=1
    # (idf_q=1, w=2*tf).
    rows = [
        (0, "a a b"),  # weights a:2 b:1       -> n2 = 5
        (1, "a b c"),  # weights a:1 b:1 c:2   -> n2 = 6
        (2, "x y"),    # weights x:2 y:2       -> n2 = 8
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cosine_pairs_hand_values(cdocs):
    # only (0,1) share terms: dot = 2*1 + 1*1 = 3; cos^2 = 9/30 = 0.3.
    # threshold 1/2: 4*9 >= 1*30 -> keep; sim_sq_x1e8 = 30_000_000 exact.
    rows = tfidf_cosine_pairs(cdocs, threshold=(1, 2)).collect()
    assert [(r.id_a, r.id_b, r.dot, r.sim_sq_x1e8) for r in rows] == [
        (0, 1, 3, 30_000_000)
    ]


def test_cosine_pairs_threshold_excludes(cdocs):
    # threshold 3/5: 25*9 = 225 < 9*30 = 270 -> pair dropped.
    assert tfidf_cosine_pairs(cdocs, threshold=(3, 5)).count() == 0


def test_cosine_pairs_df_guard(spark):
    # 'the' occurs in every doc (df=3 > max_df=2) -> dropped from BOTH
    # pairs and norms; docs 0/1 still meet through 'rare' with cosine 1
    # over the surviving dimensions; doc 2 shares nothing informative.
    d = spark.createDataFrame(
        [(0, "the rare"), (1, "the rare"), (2, "the zebra")],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(d, threshold=(9, 10), max_df=2).collect()
    assert [(r.id_a, r.id_b, r.sim_sq_x1e8) for r in rows] == [
        (0, 1, 100_000_000)
    ]


def test_cosine_pairs_shuffled_vocab_matches_broadcast(cdocs):
    bc = sorted(map(tuple, tfidf_cosine_pairs(cdocs, threshold=(1, 4)).collect()))
    sh = sorted(
        map(
            tuple,
            tfidf_cosine_pairs(
                cdocs, threshold=(1, 4), broadcast_threshold=0
            ).collect(),
        )
    )
    assert bc == sh


def test_cosine_pairs_ngram_terms(spark):
    # 3-gram terms: docs 0/1 share "p q r" (their only common 3-gram);
    # N=3, df("p q r")=2 -> idf_q = bitlen(3)-bitlen(2) = 0, w=1 each.
    # doc0 grams: "p q r","q r s" (df1, w=2): n2 = 1+4 = 5
    # doc1 grams: "p q r","q r t" (df1, w=2): n2 = 5
    # dot = 1; cos^2 = 1/25 -> sim_sq_x1e8 = 4_000_000
    d = spark.createDataFrame(
        [(0, "p q r s"), (1, "p q r t"), (2, "z z z z")],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(d, threshold=(1, 5), ngram=3).collect()
    assert [(r.id_a, r.id_b, r.dot, r.sim_sq_x1e8) for r in rows] == [
        (0, 1, 1, 4_000_000)
    ]


# --------------------------------------------------------- collocations


def test_collocations_hand_values(spark):
    # corpus: "a b a b" / "a b c" / "c c"
    # T = 9 tokens; B = 6 bigrams; c(a)=c(b)=c(c)=3
    # bigram counts: "a b":3, "b a":1, "b c":1, "c c":1
    # ratio_x1e4 = floor(1e4 * c_xy * T^2 / (B * c_x * c_y)):
    #   "a b": 1e4*3*81/(6*9) = 45000;  others: 1e4*81/54 = 15000
    from yatsm_spark.operators.terms import collocations

    d = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "c c")],
        "doc_id long, text string",
    )
    rows = collocations(d, min_count=1, topk=10).collect()
    got = [(r.bigram, r.c_xy, r.c_x, r.c_y, r.pmi_ratio_x1e4) for r in rows]
    assert got == [
        ("a b", 3, 3, 3, 45000),
        ("b a", 1, 3, 3, 15000),  # ties broken bigram-asc
        ("b c", 1, 3, 3, 15000),
        ("c c", 1, 3, 3, 15000),
    ]
    # min_count prunes the hapax tail before scoring
    only = collocations(d, min_count=2, topk=10).collect()
    assert [(r.bigram, r.pmi_ratio_x1e4) for r in only] == [("a b", 45000)]


def test_collocations_topk_and_fallback(spark):
    from yatsm_spark.operators.terms import collocations

    d = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c"), (2, "c c")],
        "doc_id long, text string",
    )
    top1 = collocations(d, min_count=1, topk=1).collect()
    assert [(r.bigram,) for r in top1] == [("a b",)]
    bc = [tuple(r) for r in collocations(d, min_count=1, topk=10).collect()]
    sh = [
        tuple(r)
        for r in collocations(
            d, min_count=1, topk=10, broadcast_threshold=0
        ).collect()
    ]
    assert bc == sh


def test_cosine_pairs_hash_tier_parity(cdocs, spark):
    # pair-set semantics are hash-agnostic: portable (md5, oracle tier)
    # and fast (xxhash64, production tier) produce identical pairs and
    # scores — term identity is all the algebra consumes
    d = spark.createDataFrame(
        [(0, "p q r s"), (1, "p q r t"), (2, "z z z z")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, tfidf_cosine_pairs(
        d, threshold=(1, 5), ngram=3, hash_fn="portable").collect()))
    b = sorted(map(tuple, tfidf_cosine_pairs(
        d, threshold=(1, 5), ngram=3, hash_fn="fast").collect()))
    assert a == b == [(0, 1, 1, 4_000_000)]


def test_cosine_pairs_no_self_pairs_on_duplicate_id_rows(spark):
    # duplicated doc_id rows must never emit an id_a == id_b pair
    # (r4 ADVICE: least/greatest over a posting list holding the same
    # id twice used to pass the threshold as a self-pair)
    d = spark.createDataFrame(
        [(1, "a b c d"), (1, "a b c d"), (2, "x y z w")],
        "doc_id long, text string",
    )
    rows = tfidf_cosine_pairs(d, threshold=(1, 100)).collect()
    assert all(r["id_a"] != r["id_b"] for r in rows)
