"""Corpus-cleaning job: crawl -> canonical snapshot -> dedup -> quality ->
PII scrub -> splits.  The end-to-end training-data pipeline over a
Common-Crawl-style table, gluing the operator family into one
spark-submit entry point:

    spark-submit --master ... --py-files engine.zip jobs/corpus.py \
        --input /path/to/crawl --output /path/to/corpus \
        [--synthetic N_URLS:SPAN_DAYS] [--neardup-threshold 0.5] \
        [--max-dup-bigram 0.6] [--min-tokens 5]

Stages (each with a row-count lineage metric in <output>/_meta):

  1. canonical snapshot — canonicalize_url, keep the LATEST crawl of each
     canonical url (struct-max, one shuffle on url), extract text.
  2. exact dedup — md5 fingerprint groupBy, keep the min-url doc of each
     fingerprint group (operators/dedup.py::exact_dedup).
  3. near-dup dedup — MinHash+LSH banding pairs -> connected components ->
     drop every non-keeper (operators/graph.py::neardup_clusters).
  4. quality filter — repetition signals (operators/quality.py) + token
     floor; drops keyword-stuffed / degenerate docs.  Optional 4b
     (--domain-cap N): per-host quota via the two-phase skew-safe top-k
     (quality.domain_cap).  Optional 4c (--token-budget B): greedy pack
     to a token budget, best distinct-token fraction first, via the
     histogram-threshold selector (quality.pack_token_budget — no
     global sort).
  5. PII scrub — email/IPv4 redaction (functions/textops.py::redact_pii).
  6. splits — deterministic content-hash train/val/test assignment
     (functions/textops.py::hash_split), written partitioned by split.

Scale notes (100 TB design): stages 1-2 are single-shuffle aggregates on
url/fingerprint; stage 3's pair generation shuffles (band, bkey) buckets
only and the CC loop runs on the (tiny) edge list, never the corpus;
stage 4 is an algebraic two-level aggregate joined back url-keyed;
stages 5-6 are map-side.  The corpus itself is never collected, crossed,
or exploded beyond shingles.

Reference analog: the reference ships per-dataset prep CLIs
(scripts/gen_date_file.sh etc. [U]); this is the webtext-payload
equivalent (task brief: training-data pipeline as first-class surface).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window, functions as F  # noqa: E402

from yatsm_spark.datagen import generate_crawl  # noqa: E402
from yatsm_spark.functions.textops import (  # noqa: E402
    canonicalize_url,
    extract_text,
    hash_split,
    redact_pii,
)
from yatsm_spark.operators.dedup import exact_dedup, minhash_lsh_pairs  # noqa: E402
from yatsm_spark.operators.graph import (  # noqa: E402
    neardup_clusters,
    quality_keepers,
    release_components,
)
from yatsm_spark.operators.quality import repetition_stats  # noqa: E402
from yatsm_spark.session import get_spark  # noqa: E402
from yatsm_spark.sources.checkpoints import PartitionMetrics  # noqa: E402


def snapshot(crawl: DataFrame) -> DataFrame:
    """Stage 1: canonical latest snapshot per url — (doc_id, text, lang).

    The regex-heavy html extraction runs AFTER the max-aggregation (once
    per url, not once per crawl observation); null text collapses to ''
    so degenerate docs still flow through the quality gate (and get
    dropped there by min_tokens) instead of bypassing repetition_stats
    entirely.  Deterministic: shared by the batch pipeline, the catalog
    builder, and the incremental path, so all three see byte-identical
    doc rows for the same crawl."""
    return (
        crawl.select(
            canonicalize_url("url").alias("doc_id"),
            F.struct("warc_ts", "text", "html", "lang").alias("obs"),
        )
        .groupBy("doc_id")
        .agg(F.max("obs").alias("obs"))
        .select(
            "doc_id",
            F.coalesce(
                F.col("obs.text"), extract_text(F.col("obs.html")), F.lit("")
            ).alias("text"),
            F.col("obs.lang").alias("lang"),
        )
    )


def clean_corpus(
    crawl: DataFrame,
    neardup_threshold: float = 0.5,
    max_dup_bigram_x1e4: int = 6000,
    min_tokens: int = 5,
    minhash_bands: int = 4,
    minhash_hashes: int = 16,
    domain_cap_n: int | None = None,
    token_budget: int | None = None,
    lsh_max_bucket: int | None = None,
    minhash_hash_fn: str = "fast",
    keeper_policy: str = "min_id",
) -> tuple[DataFrame, dict[str, int]]:
    """Run stages 1-6; returns (cleaned corpus df, per-stage row counts).

    The returned df has (doc_id=url, text redacted, lang, split) and is
    deterministic: every keep/drop decision derives from content hashes
    and min-id tie-breaks, never from partitioning or sampling.

    ``minhash_hash_fn``: "fast" (xxhash64 token hashing — the production
    tier; the r4 campaign jstack'd ~80% of 8-core pipeline CPU inside the
    interpreted portable-md5 lambda) or "portable" (md5, DuckDB-oracle-
    reproducible — the driver's corpus_clean_e2e twin uses this).  Must
    be held CONSTANT across a corpus lifetime: catalogs store signatures
    in the chosen hash domain (see build_catalog / incremental_clean).

    ``keeper_policy``: which member of a near-dup cluster survives —
    "min_id" (default: smallest doc_id, the label itself; matches the
    corpus_clean_e2e oracle and the incremental ledger path) or
    "longest" (highest char count, ties to smallest id — the
    RefinedWeb-style "keep the best copy" policy; truncated mirrors
    drop instead of winning on url sort order).  incremental_clean
    supports only "min_id": its catalog stores no lengths, and batch
    equality is proven under that policy.
    """
    if keeper_policy not in ("min_id", "longest"):
        raise ValueError(f"unknown keeper_policy {keeper_policy!r}")
    m: dict[str, int] = {}

    # -- 1. canonical latest snapshot per url
    snap = snapshot(crawl).persist()
    m["snapshot"] = snap.count()

    # -- 2. exact dedup (keep min doc_id per fingerprint)
    keepers = exact_dedup(snap).select(F.col("keeper_id").alias("doc_id"))
    uniq = snap.join(keepers, "doc_id", "left_semi").persist()
    m["exact_dedup"] = uniq.count()
    snap.unpersist()

    # -- 3. near-dup clusters -> drop non-keepers
    # lsh_max_bucket: hot-bucket star-edge guard (operators/dedup.py) —
    # arm in production (boilerplate-heavy crawls form giant mutual-near-
    # dup buckets whose all-pairs join is quadratic); None = exact pairs
    raw_pairs = minhash_lsh_pairs(
        uniq,
        n_hashes=minhash_hashes,
        bands=minhash_bands,
        k=3,
        max_bucket=lsh_max_bucket,
        hash_fn=minhash_hash_fn,
        # no-silent-caps: star-guard demotions land in the lineage
        # metrics next to the stage counts
        metrics=m if lsh_max_bucket is not None else None,
    )
    pairs = raw_pairs.filter(F.col("sig_sim") >= neardup_threshold)
    clusters = neardup_clusters(pairs)
    if keeper_policy == "longest":
        clusters = quality_keepers(
            clusters, uniq.select("doc_id", F.length("text").alias("n_chars")),
            "n_chars",
        )
    # connected_components is EAGER (its rounds run inside the call), so
    # the pairs — and the banded-signature blocks they carry — are fully
    # consumed by here; free them before the next stage
    release_components(raw_pairs)
    losers = clusters.filter(~F.col("is_keeper")).select("doc_id")
    deduped = uniq.join(losers, "doc_id", "left_anti").persist()
    m["neardup_dedup"] = deduped.count()
    release_components(clusters)  # deduped is materialized; free the CC blocks
    uniq.unpersist()

    # -- 4. quality filter
    rep = repetition_stats(deduped)
    bad = rep.filter(
        (F.col("dup_bigram_frac_x1e4") > max_dup_bigram_x1e4)
        | (F.col("n_tokens") < min_tokens)
    ).select("doc_id")
    good = deduped.join(bad, "doc_id", "left_anti")

    # -- 4b/4c. optional selection stages: per-host quota, then greedy
    # token-budget packing by quality.  Both rank on repetition-stat
    # scores already computed for stage 4, joined back doc-keyed; both
    # are deterministic (integer scores, doc_id tie-breaks).
    if domain_cap_n is not None or token_budget is not None:
        from yatsm_spark.functions.textops import url_host
        from yatsm_spark.operators.quality import domain_cap, pack_token_budget

        scored = good.join(
            rep.select("doc_id", "n_tokens", "distinct_frac_x1e4"), "doc_id"
        )
        if domain_cap_n is not None:
            scored = domain_cap(
                scored.withColumn("_host", url_host("doc_id")),
                "n_tokens",
                cap=domain_cap_n,
                domain_col="_host",
            ).drop("_host")
            m["domain_cap"] = scored.count()
        if token_budget is not None:
            scored = pack_token_budget(
                scored, "distinct_frac_x1e4", "n_tokens", token_budget,
                metrics=m,
            )
            m["token_budget"] = scored.count()
            pack_handle = scored  # frozen boundary chunks; freed below
        good = scored.drop("n_tokens", "distinct_frac_x1e4")

    # -- 5-6. PII scrub + deterministic splits (map-side)
    cleaned = hash_split(
        good.select("doc_id", redact_pii("text").alias("text"), "lang"),
        key_col="doc_id",
    ).persist()
    m["cleaned"] = cleaned.count()
    if token_budget is not None:
        release_components(pack_handle)  # cleaned is materialized
    deduped.unpersist()
    return cleaned, m


def build_catalog(
    crawl: DataFrame,
    minhash_hashes: int = 16,
    minhash_bands: int = 4,
    minhash_hash_fn: str = "fast",
) -> DataFrame:
    """Ingestion-ledger catalog rows (doc_id, fp, sig) for EVERY
    canonical url in the crawl's snapshot — kept or dropped — derived
    from the PRE-redaction snapshot text (future deltas are matched
    before their own redaction, so catalog hashes must come from the
    same pre-redaction representation).

    The ledger must cover dropped docs too: a future delta doc that
    near-dups a dedup LOSER (or a quality-dropped doc) belongs to the
    same batch cluster as that doc's keeper, so the incremental matcher
    has to see it (an exact loser shares its keeper's fp/sig, but a
    NEAR-dup loser does not).  It also makes the first-crawl-wins url
    guard correct for re-crawls of urls whose first crawl was dropped.

    Stored beside the corpus (<output>/catalog) and narrow (~150 B/url):
    the incremental path joins deltas against THIS, never against the
    corpus text itself.  Docs shorter than the shingle size have no
    MinHash signature; their sig is null (they still exact-match by fp).

    Note: because catalog hashes are pre-redaction and cover dropped
    urls, the catalog cannot be rebuilt from the stored corpus text —
    treat it as primary state, not a cache.
    """
    from yatsm_spark.functions.textops import fingerprint
    from yatsm_spark.operators.dedup import minhash_signatures

    snap = snapshot(crawl)
    sigs = minhash_signatures(
        snap, minhash_hashes, k=3, hash_fn=minhash_hash_fn
    ).select(F.col("id").alias("doc_id"), "sig")
    return (
        snap.select("doc_id", fingerprint("text").alias("fp"))
        .join(sigs, "doc_id", "left")
    )


def compact_catalog(catalog: DataFrame) -> DataFrame:
    """LOSSLESS ledger compaction: collapse exact-dup families' payload.

    The catalog grows monotonically with every delta (one row per
    ingested canonical url — jobs/archive.py's parquet age-out has no
    ledger twin because every row is information-bearing: dropping a row
    would let a future re-crawl of that url through the first-crawl-wins
    guard, and dropping a near-dup loser's row would let a future delta
    doc that matches only the LOSER re-enter).  What IS redundant is the
    payload: every member of an exact-dup family carries the same
    (fp, sig) — identical text hashes identically — but only one copy is
    ever needed, because fp matching is an anti-join against DISTINCT
    fps and band matching derives keys from sig values (identical sigs
    => identical band keys).  Compaction keeps every doc_id row (url
    guard intact) and nulls fp/sig on all but the min-doc_id family
    representative; a null fp never equi-matches and null sigs are
    filtered before banding, so the compacted ledger is behaviorally
    IDENTICAL (incremental_clean output byte-equal — pinned by test)
    while the wide sig arrays shrink to one per distinct document text.

    One window over fp (hash-partitioned, no skew beyond family size);
    run it at the archive cadence and overwrite <output>/catalog.
    """
    w = Window.partitionBy("fp")
    is_rep = F.col("doc_id") == F.min("doc_id").over(w)
    return catalog.select(
        "doc_id",
        F.when(is_rep, F.col("fp")).alias("fp"),
        F.when(is_rep, F.col("sig")).alias("sig"),
    )


def incremental_clean(
    delta_crawl: DataFrame,
    catalog: DataFrame,
    neardup_threshold: float = 0.5,
    max_dup_bigram_x1e4: int = 6000,
    min_tokens: int = 5,
    minhash_bands: int = 4,
    minhash_hashes: int = 16,
    minhash_hash_fn: str = "fast",
) -> tuple[DataFrame, dict[str, int]]:
    """Fold a crawl delta into an existing cleaned corpus WITHOUT
    re-reading the corpus: every keep/drop decision joins the delta
    against the narrow (doc_id, fp, sig) catalog.  Returns (new cleaned
    rows to APPEND, per-stage metrics).

    Incremental contract (corpus-stable semantics):
      * first-crawl-wins — a delta re-crawl of an already-ingested
        canonical url is DROPPED (the stored doc never churns; run the
        batch pipeline to adopt latest-crawl semantics corpus-wide);
      * existing-wins dedup — a delta doc that exact- or near-dup
        matches a cataloged doc is dropped, never swapped in.

    Because the catalog is the full ingestion ledger (every snapshot
    url, kept or dropped — see :func:`build_catalog`), the DELTA-side
    result exactly equals the batch pipeline on (old ∪ delta) whenever
    delta doc_ids sort after existing ones (batch min-id keepers then
    coincide with existing-wins keepers) — pinned by
    test_corpus_job.py::test_incremental_corpus_equals_batch.  The one
    divergence is on the OLD side, and only via "bridges": if a delta
    doc is similar to two mutually-dissimilar corpus docs, batch on the
    union would merge their clusters and evict one corpus doc, while
    the incremental path never evicts (corpus-stable by contract; the
    bridge doc itself is dropped either way).

    Scale shape: the delta (small) shuffles; the catalog contributes
    fp / (band, bkey) join keys only.  Within-delta near-dup clustering
    runs on the FULL exact-deduped delta BEFORE corpus-match removal so
    contaminated clusters drop whole (matching batch transitivity).
    """
    from yatsm_spark.functions.textops import fingerprint
    from yatsm_spark.operators.dedup import (
        band_pairs,
        band_signatures,
        exact_dedup,
        minhash_signatures,
        sig_sim,
    )

    m: dict[str, int] = {}

    snap_all = snapshot(delta_crawl)
    # -- 0. first-crawl-wins url guard
    snap = snap_all.join(catalog.select("doc_id"), "doc_id", "left_anti").persist()
    m["delta_new_urls"] = snap.count()

    # -- 1. exact dedup: vs catalog fingerprints, then within the delta
    with_fp = snap.withColumn("fp", fingerprint("text"))
    fresh = with_fp.join(catalog.select("fp"), "fp", "left_anti").drop("fp")
    keepers = exact_dedup(fresh).select(F.col("keeper_id").alias("doc_id"))
    uniq = fresh.join(keepers, "doc_id", "left_semi").persist()
    m["exact_dedup"] = uniq.count()
    snap.unpersist()

    # -- 2. near-dup: within-delta clusters + delta-vs-catalog matches
    # hash_fn MUST match the catalog's build tier: band keys derive from
    # sig values, so mixed domains silently never match
    sig = minhash_signatures(uniq, minhash_hashes, k=3, hash_fn=minhash_hash_fn)
    banded = band_signatures(sig, minhash_hashes, bands=minhash_bands).persist()

    # sig_sim computed BEFORE the pair-dedup: it is identical on every
    # duplicate of a pair, so the dropDuplicates exchange moves
    # (id, id, double) rows, never the signature arrays
    within = (
        band_pairs(banded)
        .select(
            "id_a",
            "id_b",
            sig_sim(F.col("sig_a"), F.col("sig_b"), minhash_hashes).alias("sig_sim"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("sig_sim") >= neardup_threshold)
    )
    cat_banded = band_signatures(
        catalog.filter(F.col("sig").isNotNull()).select(
            F.col("doc_id").alias("id"), "sig"
        ),
        minhash_hashes,
        bands=minhash_bands,
    ).alias("c")
    matched = (
        banded.alias("d")
        .join(
            cat_banded,
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.bkey") == F.col("c.bkey")),
        )
        .select(
            F.col("d.id").alias("id"),
            sig_sim(F.col("d.sig"), F.col("c.sig"), minhash_hashes).alias("sig_sim"),
        )
        .filter(F.col("sig_sim") >= neardup_threshold)
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )
    cc = neardup_clusters(within)
    bad_clusters = (
        cc.join(matched, "doc_id", "left_semi").select("cluster_id").distinct()
    )
    drops = (
        cc.join(bad_clusters, "cluster_id", "left_semi").select("doc_id")
        .unionByName(cc.filter(~F.col("is_keeper")).select("doc_id"))
        .unionByName(matched)
        .distinct()
    )
    deduped = uniq.join(drops, "doc_id", "left_anti").persist()
    m["neardup_dedup"] = deduped.count()
    release_components(cc)  # deduped is materialized; free the CC blocks
    banded.unpersist()
    uniq.unpersist()

    # -- 3. quality + PII + splits (identical to batch stages 4-6)
    rep = repetition_stats(deduped)
    bad = rep.filter(
        (F.col("dup_bigram_frac_x1e4") > max_dup_bigram_x1e4)
        | (F.col("n_tokens") < min_tokens)
    ).select("doc_id")
    good = deduped.join(bad, "doc_id", "left_anti")
    cleaned = hash_split(
        good.select("doc_id", redact_pii("text").alias("text"), "lang"),
        key_col="doc_id",
    ).persist()
    m["cleaned"] = cleaned.count()
    deduped.unpersist()
    return cleaned, m


def swap_dir(tmp: str, dst: str) -> None:
    """Replace directory ``dst`` with ``tmp`` without a moment where no
    copy exists: ``dst`` -> ``dst.old``, ``tmp`` -> ``dst``, then delete
    ``dst.old``.  A failed second rename puts ``dst.old`` back; a crash
    between the renames leaves the old copy readable at ``dst.old``."""
    old = dst + ".old"
    if os.path.isdir(old):  # left by a crash after the new copy landed
        shutil.rmtree(old)
    os.rename(dst, old)
    try:
        os.rename(tmp, dst)
    except OSError:
        os.rename(old, dst)
        raise
    shutil.rmtree(old)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="crawl parquet dir (url, warc_ts, html, text, lang)")
    ap.add_argument("--synthetic", help="N_URLS:SPAN_DAYS deterministic crawl instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--neardup-threshold", type=float, default=0.5)
    ap.add_argument("--max-dup-bigram", type=float, default=0.6,
                    help="drop docs with a higher duplicate-bigram fraction")
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--domain-cap", type=int, default=None,
                    help="keep at most N docs per host (longest first)")
    ap.add_argument("--token-budget", type=int, default=None,
                    help="greedy-pack to this many whitespace tokens, "
                         "best distinct-token fraction first")
    ap.add_argument("--lsh-max-bucket", type=int, default=None,
                    help="LSH hot-bucket guard: buckets larger than N emit "
                         "star edges (min-id root) instead of all pairs")
    ap.add_argument("--incremental", action="store_true",
                    help="fold the input as a DELTA into an existing "
                         "corpus at --output (requires its catalog)")
    ap.add_argument("--compact-catalog", action="store_true",
                    help="rewrite --output's catalog with exact-dup "
                         "family payload collapsed (lossless; no "
                         "--input needed)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("corpus_clean", master=args.master)
    t0 = time.time()

    if args.compact_catalog:
        catalog_dir = os.path.join(args.output, "catalog")
        if not os.path.isdir(catalog_dir):
            raise SystemExit(f"no catalog at {catalog_dir}")
        tmp = catalog_dir + ".compact.tmp"
        compact_catalog(spark.read.parquet(catalog_dir)).write.mode(
            "overwrite"
        ).parquet(tmp)
        n = spark.read.parquet(tmp).count()
        # validate the rewrite BEFORE replacing
        swap_dir(tmp, catalog_dir)
        print(json.dumps({"compacted_rows": n, "sec": round(time.time() - t0, 1)}))
        spark.stop()
        return

    if args.synthetic:
        n_urls, span = (int(x) for x in args.synthetic.split(":"))
        crawl = generate_crawl(spark, n_urls=n_urls, span_days=span)
    elif args.input:
        crawl = spark.read.parquet(args.input)
    else:
        raise SystemExit("need --input or --synthetic")

    data_dir = os.path.join(args.output, "data")
    catalog_dir = os.path.join(args.output, "catalog")

    if args.incremental:
        if args.domain_cap is not None or args.token_budget is not None:
            # global selection depends on the WHOLE corpus; it cannot be
            # maintained from a delta alone
            raise SystemExit("--domain-cap/--token-budget require a batch run")
        if not os.path.isdir(catalog_dir):
            raise SystemExit(f"no catalog at {catalog_dir} — run batch first")
        catalog = spark.read.parquet(catalog_dir)
        cleaned, metrics = incremental_clean(
            crawl,
            catalog,
            neardup_threshold=args.neardup_threshold,
            max_dup_bigram_x1e4=int(round(args.max_dup_bigram * 10000)),
            min_tokens=args.min_tokens,
        )
        # append data FIRST, catalog second: a crash between the two
        # leaves re-addable duplicates (self-healing on the next run's
        # quality/dedup), never corpus rows the catalog falsely claims
        cleaned.write.mode("append").partitionBy("split").parquet(data_dir)
        # ledger-append only urls not already cataloged (re-crawls stay
        # on their first entry)
        build_catalog(crawl).join(
            spark.read.parquet(catalog_dir).select("doc_id"), "doc_id", "left_anti"
        ).write.mode("append").parquet(catalog_dir)
    else:
        cleaned, metrics = clean_corpus(
            crawl,
            neardup_threshold=args.neardup_threshold,
            max_dup_bigram_x1e4=int(round(args.max_dup_bigram * 10000)),
            min_tokens=args.min_tokens,
            domain_cap_n=args.domain_cap,
            token_budget=args.token_budget,
            lsh_max_bucket=args.lsh_max_bucket,
        )
        # data under <output>/data so mode=overwrite cannot wipe the
        # metrics history accumulating beside it in <output>/_meta
        cleaned.write.mode("overwrite").partitionBy("split").parquet(data_dir)
        build_catalog(crawl).write.mode("overwrite").parquet(catalog_dir)
    metrics["wall_s"] = round(time.time() - t0, 1)

    meta_dir = os.path.join(args.output, "_meta")
    os.makedirs(meta_dir, exist_ok=True)
    PartitionMetrics(os.path.join(meta_dir, "corpus_metrics.jsonl")).emit(**metrics)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
