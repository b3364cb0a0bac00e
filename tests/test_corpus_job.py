"""End-to-end corpus-cleaning job (jobs/corpus.py::clean_corpus)."""

from __future__ import annotations

import pyspark.sql.functions as F


def _clean(spark, **kw):
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.corpus import clean_corpus
    from yatsm_spark.datagen import generate_crawl

    crawl = generate_crawl(spark, n_urls=60, span_days=20)
    # synthetic corpus is deliberate word-soup: dup_bigram ~0.97, so the
    # real-world default threshold (0.6) would drop everything
    kw.setdefault("max_dup_bigram_x1e4", 9900)
    return clean_corpus(crawl, **kw)


def test_clean_corpus_stages_monotone_and_deterministic(spark):
    cleaned, m = _clean(spark)
    # stage counts only ever shrink
    assert m["snapshot"] >= m["exact_dedup"] >= m["neardup_dedup"] >= m["cleaned"]
    assert m["cleaned"] > 0
    # one row per doc, splits assigned, all three values possible
    assert cleaned.select("doc_id").distinct().count() == m["cleaned"]
    assert set(r.split for r in cleaned.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    # determinism: an independent run produces identical keep-set
    cleaned2, m2 = _clean(spark)
    assert m2 == m
    a = {r.doc_id for r in cleaned.select("doc_id").collect()}
    b = {r.doc_id for r in cleaned2.select("doc_id").collect()}
    assert a == b
    cleaned.unpersist()
    cleaned2.unpersist()


def test_clean_corpus_neardup_keeps_one_per_cluster(spark):
    """Every near-dup cluster contributes exactly its keeper."""
    from yatsm_spark.operators.dedup import minhash_lsh_pairs
    from yatsm_spark.operators.graph import neardup_clusters

    cleaned, m = _clean(spark)
    kept = {r.doc_id for r in cleaned.select("doc_id").collect()}
    # recompute clusters over the exact-deduped survivors independently
    from yatsm_spark.datagen import generate_crawl
    from yatsm_spark.functions.textops import canonicalize_url, fingerprint

    crawl = generate_crawl(spark, n_urls=60, span_days=20)
    snap = (
        crawl.select(
            canonicalize_url("url").alias("doc_id"),
            F.struct("warc_ts", "text", "lang").alias("o"),
        )
        .groupBy("doc_id")
        .agg(F.max("o").alias("o"))
        .select("doc_id", F.col("o.text").alias("text"))
    )
    uniq = snap.join(
        snap.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    cl = neardup_clusters(
        # "fast" tier: must match clean_corpus's production default so the
        # expected cluster membership is derived in the same hash domain
        minhash_lsh_pairs(uniq, n_hashes=16, bands=4, k=3, hash_fn="fast").filter(
            F.col("sig_sim") >= 0.5
        )
    )
    rows = cl.collect()
    # non-keepers are gone unconditionally (quality filter can only drop
    # MORE, never resurrect)
    assert all(r.doc_id not in kept for r in rows if not r.is_keeper)
    # and the pipeline kept at least one cluster keeper
    assert any(r.doc_id in kept for r in rows if r.is_keeper)
    cleaned.unpersist()


def test_clean_corpus_selection_stages(spark):
    """--domain-cap and --token-budget stages: quota respected, budget
    respected, and the packed set is the greedy best-first prefix."""
    from yatsm_spark.functions.textops import url_host
    from yatsm_spark.operators.quality import repetition_stats

    cleaned, m = _clean(spark, domain_cap_n=2, token_budget=800)
    assert m["cleaned"] <= m["token_budget"] <= m["domain_cap"] <= m["neardup_dedup"]
    hosts = (
        cleaned.withColumn("_h", url_host("doc_id"))
        .groupBy("_h")
        .count()
        .collect()
    )
    assert all(r["count"] <= 2 for r in hosts)
    # budget respected on the kept docs' token counts
    toks = {
        r.doc_id: r.n_tokens
        for r in repetition_stats(cleaned.select("doc_id", "text")).collect()
    }
    # note: kept text is post-PII-redaction, token COUNT is unchanged by
    # the <EMAIL>/<IP> substitutions (single-token replacements)
    assert sum(toks.values()) <= 800
    cleaned.unpersist()


def test_incremental_corpus_equals_batch(spark):
    """incremental(batch(A), delta=B) == batch(A ∪ B) when delta urls
    sort after existing ones (the documented exactness condition)."""
    from jobs.corpus import build_catalog, clean_corpus, incremental_clean
    from yatsm_spark.datagen import generate_crawl

    full = generate_crawl(spark, n_urls=80, span_days=15)
    # generate_crawl urls embed a zero-padded index -> the first 40 urls
    # sort before the last 40
    a_urls = [r.url for r in full.select("url").distinct().collect()]
    cut = sorted(a_urls)[39]
    crawl_a = full.filter(F.col("url") <= cut)
    crawl_b = full.filter(F.col("url") > cut)

    kw = dict(max_dup_bigram_x1e4=9900)
    batch_all, _ = clean_corpus(full, **kw)
    rows = lambda df: {
        (r.doc_id, r.text, r.lang, r.split)
        for r in df.select("doc_id", "text", "lang", "split").collect()
    }
    want = rows(batch_all)
    want_b = {t for t in want if t[0] > cut}

    base, _ = clean_corpus(crawl_a, **kw)
    catalog = build_catalog(crawl_a)
    delta_clean, m = incremental_clean(crawl_b, catalog, **kw)
    base_rows, delta_rows = rows(base), rows(delta_clean)

    # DELTA side is EXACTLY batch; nothing batch keeps is ever missing
    assert delta_rows == want_b
    assert want <= base_rows | delta_rows
    # the only divergence allowed: OLD-side docs kept by corpus
    # stability that batch would evict via delta-doc bridges
    extras = (base_rows | delta_rows) - want
    assert all(t[0] <= cut for t in extras)
    assert extras <= base_rows
    assert m["delta_new_urls"] > 0 and m["cleaned"] <= m["delta_new_urls"]
    batch_all.unpersist(); base.unpersist(); delta_clean.unpersist()


def test_incremental_corpus_recrawl_and_dup_suppression(spark):
    """Re-crawled urls are dropped (first-crawl-wins) and exact text
    dups under NEW urls are dropped via the catalog fingerprints."""
    from jobs.corpus import build_catalog, clean_corpus, incremental_clean
    from yatsm_spark.datagen import generate_crawl

    crawl = generate_crawl(spark, n_urls=30, span_days=10)
    kw = dict(max_dup_bigram_x1e4=9900)
    base, _ = clean_corpus(crawl, **kw)
    catalog = build_catalog(crawl)

    # delta = the same crawl re-observed (same urls) plus the same crawl
    # under renamed urls that sort after (same TEXT -> exact dups)
    renamed = crawl.withColumn("url", F.regexp_replace("url", "://", "://z."))
    delta = crawl.unionByName(renamed)
    delta_clean, m = incremental_clean(delta, catalog, **kw)
    # same-url re-crawls dropped by the url guard; renamed survivors all
    # fingerprint-match the catalog -> nothing new enters the corpus
    assert m["delta_new_urls"] == 30          # only the renamed urls pass
    assert m["exact_dedup"] == 0 and m["cleaned"] == 0
    base.unpersist(); delta_clean.unpersist()


def test_compact_catalog_behaviorally_identical(spark):
    """compact_catalog keeps every doc_id row, nulls payload on exact-dup
    family non-representatives, and produces BYTE-IDENTICAL
    incremental_clean output on the next delta."""
    from jobs.corpus import (
        build_catalog,
        compact_catalog,
        incremental_clean,
    )
    from yatsm_spark.datagen import generate_crawl

    full = generate_crawl(spark, n_urls=60, span_days=12)
    urls = sorted(r.url for r in full.select("url").distinct().collect())
    cut = urls[29]
    crawl_a = full.filter(F.col("url") <= cut)
    crawl_b = full.filter(F.col("url") > cut)

    cat = build_catalog(crawl_a)
    # seed exact-dup families in the LEDGER: the same texts under
    # renamed urls — compaction must collapse their payload copies
    renamed = crawl_a.withColumn("url", F.regexp_replace("url", "://", "://m."))
    cat = cat.unionByName(
        build_catalog(renamed)
    )
    compacted = compact_catalog(cat).persist()

    # every url row survives; payload exists once per distinct fp family
    assert compacted.count() == cat.count()
    fam = compacted.filter(F.col("fp").isNotNull()).count()
    assert fam == cat.select("fp").distinct().count()
    assert compacted.filter(F.col("sig").isNotNull()).count() <= fam

    kw = dict(max_dup_bigram_x1e4=9900)
    out_full, m_full = incremental_clean(crawl_b, cat, **kw)
    out_comp, m_comp = incremental_clean(crawl_b, compacted, **kw)
    key = lambda df: sorted(
        (r.doc_id, r.text, r.lang, r.split)
        for r in df.select("doc_id", "text", "lang", "split").collect()
    )
    assert key(out_full) == key(out_comp)
    assert m_full == m_comp
    out_full.unpersist(); out_comp.unpersist(); compacted.unpersist()


def test_quality_keepers_longest_wins(spark):
    """keeper_policy='longest': the highest-char-count cluster member
    survives (ties -> smallest doc_id); min_id default keeps the label."""
    from yatsm_spark.operators.graph import quality_keepers

    clusters = spark.createDataFrame(
        [
            ("a", "a", 3, True),
            ("b", "a", 3, False),
            ("c", "a", 3, False),
            ("x", "x", 2, True),
            ("y", "x", 2, False),
        ],
        "doc_id string, cluster_id string, cluster_size long, is_keeper boolean",
    )
    scores = spark.createDataFrame(
        [("a", 10), ("b", 99), ("c", 99), ("x", 5), ("y", 5)],
        "doc_id string, n_chars long",
    )
    out = {
        r["doc_id"]: r["is_keeper"]
        for r in quality_keepers(clusters, scores, "n_chars").collect()
    }
    # cluster a: b and c tie at 99 -> smallest id b wins
    assert out == {"a": False, "b": True, "c": False, "x": True, "y": False}


def test_clean_corpus_longest_keeper_policy(spark):
    """End-to-end: 'longest' keeps exactly one doc per cluster and never
    keeps a doc shorter than another member of its cluster."""
    from datetime import datetime, timedelta

    from jobs.corpus import clean_corpus

    t0 = datetime(2024, 1, 1)
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    # three near-identical docs, increasing length; url order favors the
    # SHORTEST under min_id, so the policies must visibly differ
    for i, reps in enumerate((6, 8, 10)):
        rows.append(
            (f"https://a{i}.example.com/p", t0 + timedelta(hours=i),
             None, base * reps + f"tail {i}", "en")
        )
    # plus unrelated singletons so the pipeline has survivors
    for i in range(6):
        rows.append(
            (f"https://s{i}.example.com/q", t0,
             None, f"unrelated document number {i} " + " ".join(
                 f"w{i}{j}" for j in range(30)), "en")
        )
    crawl = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cleaned_min, _ = clean_corpus(crawl, max_dup_bigram_x1e4=9900)
    cleaned_lng, _ = clean_corpus(
        crawl, max_dup_bigram_x1e4=9900, keeper_policy="longest"
    )
    kept_min = {r.doc_id for r in cleaned_min.select("doc_id").collect()}
    kept_lng = {r.doc_id for r in cleaned_lng.select("doc_id").collect()}
    a_min = {d for d in kept_min if ".example.com/p" in d and d.startswith("https://a")}
    a_lng = {d for d in kept_lng if ".example.com/p" in d and d.startswith("https://a")}
    assert a_min == {"https://a0.example.com/p"}  # min id = shortest here
    assert a_lng == {"https://a2.example.com/p"}  # longest copy survives
    cleaned_min.unpersist()
    cleaned_lng.unpersist()


def test_swap_dir_keeps_a_readable_copy_when_the_second_rename_fails(
    tmp_path, monkeypatch
):
    """--compact-catalog's swap: if installing the rewrite fails, the old
    catalog is still on disk (the catalog is primary state, not a cache).
    Spark-free."""
    import os

    import pytest

    from jobs.corpus import swap_dir

    cat, tmp = tmp_path / "catalog", tmp_path / "catalog.compact.tmp"
    for d, body in ((cat, "old"), (tmp, "new")):
        d.mkdir()
        (d / "part-0").write_text(body)
    rename = os.rename

    def failing_rename(src, dst):
        if os.fspath(src) == os.fspath(tmp):
            raise OSError("simulated crash while installing the rewrite")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError):
        swap_dir(str(tmp), str(cat))
    survivors = [d / "part-0" for d in (cat, tmp_path / "catalog.old")]
    assert [p.read_text() for p in survivors if p.exists()] == ["old"]

    monkeypatch.setattr(os, "rename", rename)
    swap_dir(str(tmp), str(cat))
    assert (cat / "part-0").read_text() == "new"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["catalog"]
