"""Deduplication operators over `documents`-shaped tables.

Training-data-pipeline dedup family (task brief first-class components):

  * :func:`exact_dedup`        — hash-groupBy exact dedup (md5 fingerprint)
  * :func:`ngram_jaccard_pairs`— n-gram-shingle Jaccard near-dup pairs
  * :func:`minhash_lsh_pairs`  — MinHash + LSH banding candidate pairs
  * :func:`simhash_docs`       — SimHash fingerprints (Hamming-dup scan)

Scale notes (100 TB design):
  * exact_dedup: one shuffle on the 16-byte fingerprint — the canonical
    first pass; always run before any near-dup stage to shrink the input.
  * ngram_jaccard_pairs: explode(shingles) self-join — the shuffle key is
    the shingle, so frequency-skewed shingles explode the join.  The
    ``max_shingle_freq`` guard drops shingles appearing in more than N docs
    (stopword shingles carry no dedup signal but dominate the pair count);
    this is the standard scalable formulation (cf. MinHash banding which
    bounds pairs by construction).
  * minhash_lsh_pairs: signature is map-side (functions/textops.py); only
    (band_id, band_hash) buckets shuffle — pair candidates are bounded by
    bucket collisions, then verified with exact signature similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from yatsm_spark.functions.textops import (
    _PRIME,
    fingerprint,
    portable_hash64,
    simhash64,
)


def shingle_rows(
    docs: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word k-shingles as rows (id, s) — ZERO shuffle.

    Array-level shingling (:func:`shingle_array` — map-side, O(k*T) per
    doc) deduped ARRAY-LOCALLY before the explode: distinct over
    (id, s) pairs IS per-document distinct, and a document's shingles
    all live in one row, so the former corpus-wide ``.distinct()``
    exchange never needed to exist.  (History: this started as
    posexplode+window-lead, which shuffle-SORTED every token row before
    forming shingles — at 480k docs / 144M shingles the window sort
    dominated the LSH-pair stage — then array-shingling + global
    distinct, now fully map-side.  The naive per-element element_at
    form remains off the table — Catalyst re-inlines split() into every
    element, O(T^2) per row, measured 5x slower at 5k docs; zip_with of
    k offset slices re-evaluates split() only k times per ROW.)

    Precondition: ``id_col`` unique per row.  array_distinct is per-ROW,
    so duplicated doc-id rows yield duplicated (id, s) pairs — counts
    built on these rows (e.g. decontaminate's n_hits) would double; the
    old corpus-wide .distinct() silently absorbed that, this form
    documents it instead of paying the exchange.
    """
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingle_array(text_col, k))).alias("s"),
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup groups: fingerprint -> keeper (min id) + duplicate count.

    One hash shuffle on the fingerprint; min/count are algebraic so
    map-side partial aggregation absorbs hot fingerprints.
    """
    return (
        docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_docs"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by k-shingle Jaccard similarity >= threshold.

    The FUSED posting-list form (the tfidf_cosine_pairs plan shape):
    per-doc DISTINCT shingles are computed ARRAY-LOCALLY
    (array_distinct of :func:`shingle_array` — a doc's shingles live in
    one row, so the former corpus-wide ``.distinct()`` exchange never
    needed to exist), each surviving shingle's posting list is built by
    ONE groupBy(shingle) collect, and intersection candidates are
    generated MAP-SIDE from each bounded list instead of shuffling the
    posting set twice more through an a x b self-join.  Pair counts ->
    |A∪B| = |A| + |B| - |A∩B|.  Returns (id_a, id_b, jaccard) with
    id_a < id_b (the pair SET is independent of collect order: each
    unordered {x, y} emits exactly one least/greatest struct).

    ``max_shingle_freq`` prunes super-frequent shingles BEFORE the
    posting collect (scale guard — it also bounds every collected list
    at max_shingle_freq entries; None = exact; MinHash+LSH is the
    stated scale path).  Pair emission is CHUNKED: the outer index is
    posexploded into one row per posting entry BEFORE the inner pair
    transform, so a task holds O(f) structs at a time, never the
    C(f, 2) block the pre-r5 flatten materialized per shingle — an
    unguarded (None) run on a stopword shingle is slow, not an
    executor-OOM.  Sizes are computed from the PRUNED shingle universe
    so numerator and denominator agree — computing |A| pre-prune would
    bias jaccard low for docs rich in frequent shingles and drop
    genuine near-dups below threshold; with no guard, sizes are
    doc-local (zero shuffle).

    Precondition: ``id_col`` unique per row.  Duplicate-id rows would
    double-count intersections and fan out the sizes join; the
    id_a != id_b filter guarantees no self-pair survives regardless.
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_array(text_col, k)).alias("sh"),
    )
    ex = sh.select("id", F.explode("sh").alias("s"))
    if max_shingle_freq is not None:
        freq = ex.groupBy("s").agg(F.count("*").alias("f"))
        ex = ex.join(freq.filter(F.col("f") <= max_shingle_freq), "s", "left_semi")
        sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))

    # chunked pair emission: one row per (posting entry, list) first —
    # the inner transform then holds at most O(f) structs per row
    # instead of one C(f, 2)-struct block per shingle
    inter = (
        ex.groupBy("s")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select("ids", F.posexplode("ids").alias("i", "a"))
        .select(
            F.explode(
                F.transform(
                    F.slice(F.col("ids"), F.col("i") + 2, F.size("ids")),
                    lambda b: F.struct(
                        F.least(F.col("a"), b).alias("id_a"),
                        F.greatest(F.col("a"), b).alias("id_b"),
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_array(text_col: str | F.Column, k: int = 3) -> F.Column:
    """Word k-shingles as an ARRAY column — zero-shuffle shingling.

    k offset slices of split(text) zip-concatenated: split() re-evaluates
    k times per ROW (array-level exprs, Catalyst inlines the alias), not
    once per token — O(k*T) per doc, unlike a per-element element_at
    form (O(T^2)) or the posexplode+window form
    (:func:`shingle_rows`, which shuffle-sorts every token row).  Docs
    with fewer than k tokens yield an empty array (clamped slice length).
    Multiset semantics: repeated shingles stay repeated.
    """
    toks = F.split(text_col, " ")
    n_sh = F.greatest(F.size(toks) - k + 1, F.lit(0))
    sh = F.slice(toks, 1, n_sh)
    for j in range(1, k):
        sh = F.zip_with(
            sh,
            F.slice(toks, j + 1, n_sh),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return sh


#: polynomial combiner base for hash-domain shingles (prime, ~2^20 —
#: product with a (mod _PRIME) operand stays < 2^51, no bigint wrap)
_SHINGLE_BASE = 1000003


def shingle_hash_array(
    text_col: str | F.Column, k: int = 3, hash_fn: str = "portable"
) -> F.Column:
    """Word k-shingle HASHES as an array<bigint> — string-free shingling.

    Hashes every token ONCE, then combines each k-window arithmetically:
    h = fold(h*B + t_j mod _PRIME) over the window — a polynomial rolling
    hash in the 31-bit field, built with the same
    zip_with-of-offset-slices shape as :func:`shingle_array` but over
    bigints.  The k-gram STRING is never materialized: the old path
    concat-allocated every k-gram (~3x the corpus text volume in
    short-lived strings) and then md5'd each.  Collision rate of the
    combiner is ~1/_PRIME per pair — the same order as the token hash
    itself.

    ``hash_fn`` picks the per-token hash tier:

    * ``"portable"`` — md5-prefix (portable_hash64 mod _PRIME), exactly
      DuckDB-reproducible: a list_transform twin reproduces values
      bit-for-bit.  This is the ORACLE tier; it is also ~10x slower,
      because higher-order lambdas are interpreted (no codegen) and the
      interpreted Md5 path pays MessageDigest reflection + hex + conv
      per call (jstack'd on the round-4 campaign: ~80% of the corpus
      pipeline's 8-core CPU was this expression).
    * ``"fast"`` — pmod(xxhash64, _PRIME): allocation-free in-JVM hash,
      the PRODUCTION tier for 100 TB runs and benchmarks.  Same field,
      same combiner, not oracle-reproducible (DuckDB has no xxhash64);
      dedup SEMANTICS are hash-agnostic and pinned by the
      portable-vs-fast cluster-equality test.

    Docs with fewer than k tokens yield an empty array.  Multiset
    semantics (repeats stay).
    """
    toks = F.split(text_col, " ")
    if hash_fn == "fast":
        th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_PRIME)))
    elif hash_fn == "portable":
        th = F.transform(toks, lambda t: portable_hash64(t) % _PRIME)
    else:
        raise ValueError(f"hash_fn must be 'portable' or 'fast', got {hash_fn!r}")

    # Bind th as a LAMBDA VARIABLE before slicing: higher-order functions
    # are interpreted (no whole-stage codegen, no common-subexpression
    # elimination), so referencing the th EXPRESSION from k slices would
    # re-run the per-token md5 k times (measured 8.3s vs 5.1s for the
    # string path at 60k docs — slower than what this replaces).  Inside
    # transform(array(th), h -> ...) the hash array is a materialized
    # VALUE; k slice references cost nothing extra.
    def combine(h: F.Column) -> F.Column:
        n_sh = F.greatest(F.size(h) - k + 1, F.lit(0))
        sh = F.slice(h, 1, n_sh)
        for j in range(1, k):
            sh = F.zip_with(
                sh,
                F.slice(h, j + 1, n_sh),
                lambda a, b: (a * _SHINGLE_BASE + b) % _PRIME,
            )
        return sh

    return F.element_at(F.transform(F.array(th), combine), 1)


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
) -> DataFrame:
    """MinHash signatures computed ENTIRELY array-side — zero explode,
    zero aggregation, zero shuffle.

    (id, sig: array<bigint>[n_hashes]).  Shingle hashes come from
    :func:`shingle_hash_array` (map-side, no k-gram string allocation;
    see its ``hash_fn`` tiers — "portable" md5 for oracle parity,
    "fast" xxhash64 for production).  The n minima are computed per ROW:
    the shingle array is bound ONCE as a lambda variable
    (transform(array(sh), s -> ...)), then n interpreted min-passes run
    over that bound VALUE — n_shingles * n_hashes cheap arithmetic ops
    and nothing else.

    This replaced the explode+groupBy formulation (r4 campaign finding):
    pushing every shingle occurrence through Generate + hashAgg cost
    50x the array-side form at 120k docs / 36M shingles, local[8]
    (377s explode+agg vs 7.2s array-side, same JVM — the generated-row
    volume, not the hash, was the bottleneck).  The shingle array is
    bound ONCE because an array formulation that references the shingle
    expression in each of the n_hashes minima re-inlines that SUBTREE
    n_hashes times — interpreted HOFs get no common-subexpression
    elimination, so it recomputes the shingle hashes 16x (measured 226s
    vs 3s on 500 docs); binding via transform(array(.)) is what makes
    the array-side form safe.

    Per-doc work never leaves the scan task: at 100 TB this stage is
    pure map throughput with NO shuffle at all (the old form shuffled
    one signature row per doc).  Docs with fewer than k tokens have no
    shingles and are dropped (no signature is defined for an empty
    set).  Portable-tier signature VALUES are identical to the r4
    explode formulation (same hash domain, same permutations) — the
    DuckDB oracles needed no change.
    """
    sh = shingle_hash_array(text_col, k, hash_fn=hash_fn)
    sig = F.element_at(
        F.transform(
            F.array(sh),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: F.array_min(
                    F.transform(s, lambda h: (h * (i * 2 + 1) + (i + 1) * 7919) % _PRIME)
                ),
            ),
        ),
        1,
    )
    # empty shingle set -> array_min = null in slot 1: drop (matches the
    # explode+groupBy semantics, where such docs emit no row).  The drop is
    # an explode-of-singleton with the guard INSIDE the bound lambda, not a
    # .filter(): a filter on the computed column gets pushed below the
    # projection and re-evaluates the whole interpreted minhash a second
    # time per row (no CSE for HOFs); Generate also leaves `sig` as a
    # concrete attribute, so downstream projections can never re-inline
    # the expression.
    keep = F.element_at(
        F.transform(
            F.array(sig),
            lambda s: F.when(
                F.element_at(s, 1).isNotNull(), F.array(s)
            ).otherwise(F.array().cast("array<array<bigint>>")),
        ),
        1,
    )
    return docs.select(F.col(id_col).alias("id"), F.explode(keep).alias("sig"))


def band_signatures(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Explode (id, sig) into LSH band rows (id, sig, band, bkey) — the
    shared banding step of :func:`minhash_lsh_pairs` and the incremental
    delta-vs-catalog matcher (jobs/corpus.py).  bkey is the comma-joined
    signature slice for the band: a pure function of sig, so catalogs
    need only store signatures.

    The sig column is BOUND as a lambda variable (transform(array(sig),
    s -> ...)) before any band references it.  When sig is a freshly
    COMPUTED expression (minhash_lsh_pairs feeds the array-side minhash
    projection straight in), CollapseProject inlines that expression into
    every reference — 16 element_at + the passthrough = 17 evaluations of
    the full interpreted minhash per row (HOFs get no codegen and no CSE;
    measured: one banded pass cost 183 s vs 34 s for the signatures alone
    at 120k docs local[8] — the r3 explode+groupBy form had hidden this
    because an aggregation is a collapse barrier).  Binding makes it ONE
    evaluation; for catalog-stored sig columns the binding is free.
    """
    rows_per_band = n_hashes // bands

    def _bands(s: F.Column) -> F.Column:
        return F.array(
            *[
                F.struct(
                    s.alias("sig"),
                    F.lit(bi).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(s, bi * rows_per_band + j + 1)
                            for j in range(rows_per_band)
                        ],
                    ).alias("bkey"),
                )
                for bi in range(bands)
            ]
        )

    bs = F.element_at(F.transform(F.array(F.col("sig")), _bands), 1)
    return sig.select("id", F.explode(bs).alias("bs")).select(
        "id",
        F.col("bs.sig").alias("sig"),
        F.col("bs.band").alias("band"),
        F.col("bs.bkey").alias("bkey"),
    )


def band_pairs(banded: DataFrame) -> DataFrame:
    """LSH band self-join of :func:`band_signatures` rows: every (id_a <
    id_b) pair sharing a (band, bkey) bucket, once per shared band, as
    (id_a, id_b, sig_a, sig_b).  The join key bounds candidates by bucket
    population; callers dedup pairs after scoring them."""
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.sig").alias("sig_a"),
        F.col("b.sig").alias("sig_b"),
    )


def sig_sim(a: F.Column, b: F.Column, n_hashes: int) -> F.Column:
    """Signature-agreement fraction of two MinHash signatures (the
    Jaccard estimate), rounded to 4 dp."""
    agree = F.size(
        F.filter(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return F.round(agree / F.lit(n_hashes), 4)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
    hash_fn: str = "portable",
    metrics: dict | None = None,
) -> DataFrame:
    """MinHash + LSH banding: candidate pairs whose signatures collide in
    at least one band, with the exact signature-agreement fraction.

    Returns (id_a, id_b, sig_sim).  rows-per-band shuffle is n_docs*bands;
    the join key (band_id, band signature slice) bounds candidates.

    ``max_bucket`` is the hot-bucket scale guard.  A band bucket with B
    members yields B(B-1)/2 candidate pairs — fine while buckets are
    collision-sized, quadratic death when a corpus contains a giant
    mutual-near-dup family (measured: 120k boilerplate docs share every
    bucket; the self-join is ~7e9 pairs and never finishes).  With
    ``max_bucket=N``, buckets larger than N emit STAR edges instead:
    each member pairs only with the bucket's min id (B-1 pairs).  For the
    connected-components consumer (operators/graph.py::neardup_clusters)
    the star keeps every member reachable from the same root, so cluster
    MEMBERSHIP is preserved whenever root-member similarity clears the
    caller's threshold — the regime a giant bucket implies (its members
    already agree on a whole signature band).  Pair-level recall between
    non-root members of oversized buckets is deliberately sacrificed;
    None (default) = exact all-pairs semantics.

    ``metrics`` (optional dict, no-silent-caps rule): with the guard
    armed, records ``lsh_star_buckets`` (buckets demoted to star edges)
    and ``lsh_star_rows`` (band rows inside them), observed on the
    banding checkpoint's own action — no extra job.
    """
    from yatsm_spark.operators.graph import materialize_once

    sig = minhash_signatures(docs, n_hashes, k, id_col, text_col, hash_fn=hash_fn)
    # ONE shuffle on the join/agg key, then materialize.  The r4 array-side
    # signature rewrite removed the explode+groupBy shuffle that had been
    # acting as an implicit materialization point — without one, the banded
    # frame's consumers (bucket stats, small semi-join, small self-join x2,
    # big/root joins) each recompute the FULL signature lineage from the
    # scan: 8 separate Generate stacks in the executed plan, 335 s of a
    # 423 s pipeline at 120k docs local[8] (signatures alone are ~34 s).
    # ReuseExchange can NOT collapse them: per-consumer column pruning makes
    # the subtrees canonically different (one prunes id, others keep it), so
    # an explicit eager materialization is required, not just a repartition
    # (measured: repartition alone still 400 s; checkpointed ~60 s).  The
    # blocks are the same n_docs*bands slim rows the r3 form shuffled; the
    # returned pairs frame carries the handle for release_components().
    banded = band_signatures(sig, n_hashes, bands).repartition("band", "bkey")
    if max_bucket is not None:
        # bucket size and root ride the checkpoint: windows on the key the
        # frame is already partitioned by add no exchange
        w = Window.partitionBy("band", "bkey")
        banded = banded.withColumn("_bn", F.count("*").over(w)).withColumn(
            "_rid", F.min("id").over(w)
        )
        if metrics is not None:
            obs = Observation()
            big = F.col("_bn") > max_bucket
            banded = banded.observe(
                obs,
                # ids are unique per band, so each bucket has one root row
                F.count_if(big & (F.col("id") == F.col("_rid"))).alias("b"),
                F.count_if(big).alias("r"),
            )
    banded = materialize_once(banded)
    if max_bucket is not None and metrics is not None:
        metrics["lsh_star_buckets"] = obs.get["b"]
        metrics["lsh_star_rows"] = obs.get["r"]

    if max_bucket is None:
        cand = band_pairs(banded)
    else:
        cand_small = band_pairs(banded.filter(F.col("_bn") <= max_bucket))
        big = banded.filter(F.col("_bn") > max_bucket)
        roots = big.filter(F.col("id") == F.col("_rid")).select(
            "band", "bkey", F.col("sig").alias("_rsig")
        )
        cand_big = (
            big.filter(F.col("id") != F.col("_rid"))
            .join(roots, ["band", "bkey"])
            .select(
                F.col("_rid").alias("id_a"),
                F.col("id").alias("id_b"),
                F.col("_rsig").alias("sig_a"),
                F.col("sig").alias("sig_b"),
            )
        )
        cand = cand_small.unionByName(cand_big)

    # score BEFORE the pair-dedup: sig_sim is identical on every duplicate
    # of a pair (same signatures), so the dropDuplicates exchange moves
    # (id, id, double) instead of two 16-element bigint arrays per row
    out = cand.select(
        "id_a",
        "id_b",
        sig_sim(F.col("sig_a"), F.col("sig_b"), n_hashes).alias("sig_sim"),
    ).dropDuplicates(["id_a", "id_b"])
    # carry the banded materialization handle so callers can free the
    # blocks (graph.release_components) once the pairs are consumed; note
    # DataFrame transformations do NOT propagate the attr — release via
    # the frame this function returned
    out._yatsm_ckpt_ids = getattr(banded, "_yatsm_ckpt_ids", set())  # type: ignore[attr-defined]
    return out


def simhash_docs(
    docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc SimHash fingerprint (map-side only, no shuffle)."""
    return docs.select(F.col(id_col), simhash64(text_col, bits).alias("simhash"))


def cut_duplicate_spans(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """The CUT stage of exact-substring dedup (Lee et al. 2021): remove
    every token covered by a word k-gram that occurs in >= ``min_docs``
    DISTINCT documents — :func:`duplicate_span_stats` is the flag stage,
    this actually rewrites the text.  Returns
    (id, text_cut, n_tokens_kept, n_tokens_cut); docs with no flagged
    span pass through unchanged (n_tokens_cut = 0).

    Token i is cut iff some flagged span STARTS at j in [i-k+1, i]
    (0-based), i.e. the token sits inside at least one cross-document
    k-gram.  Within-doc repeats alone do not flag (distinct-doc count).

    Scale shape: spans come from :func:`shingle_hash_array` (map-side,
    string-free); the flagged-span set is one (span, id)-distinct
    aggregate; flagged START POSITIONS rejoin per doc as a posexplode →
    semi-join → collect_list (doc-keyed — no skew beyond doc length),
    and the cut itself is a per-row array filter over the token list
    with an exists() probe of the doc's own flagged-starts array
    (|starts| is the doc's duplicated-span count — tiny for clean docs,
    bounded by doc length always).  The corpus text shuffles ONCE (the
    doc-keyed join); span traffic is hashes, never strings.
    """
    sp = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(shingle_hash_array(text_col, k)).alias("pos", "h"),
    )
    flagged = (
        sp.select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    starts = (
        sp.join(flagged, "h", "left_semi")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("_starts"))
    )
    # null text coalesces to '' (one empty token — split never yields an
    # empty array, so sequence(0, size-1) is always well-formed)
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_starts"), lambda s: (s <= i) & (i < s + k)
    )
    # _toks/_kept land in their own projection: both are referenced
    # several times downstream, and the O(T*S) exists-probe filter must
    # run ONCE per row, not once per consumer (CollapseProject keeps
    # multi-referenced non-trivial aliases in place)
    staged = (
        docs.join(starts, F.col(id_col) == F.col("id"), "left")
        .drop("id")
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            F.coalesce("_starts", F.array().cast("array<int>")).alias("_starts"),
        )
        .select(
            F.col(id_col),
            F.col("_toks"),
            F.filter(
                F.sequence(F.lit(0), F.size("_toks") - 1),
                lambda i: ~covered(i),
            ).alias("_kept"),
        )
    )
    return staged.select(
        F.col(id_col),
        F.array_join(
            F.transform(
                "_kept", lambda i: F.element_at("_toks", (i + 1).cast("int"))
            ),
            " ",
        ).alias("text_cut"),
        F.size("_kept").cast("bigint").alias("n_tokens_kept"),
        (F.size("_toks") - F.size("_kept")).cast("bigint").alias("n_tokens_cut"),
    )


def duplicate_span_stats(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc cross-document verbatim-span stats: (id, n_spans,
    n_dup_spans, dup_span_frac_x1e4), where a word k-gram position is
    "dup" iff its k-gram occurs in >= ``min_docs`` DISTINCT documents
    — the train-vs-train twin of quality.decontaminate and the
    flag-stage primitive of exact-substring dedup (cf. Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": find
    spans shared verbatim across docs, then cut or down-weight them).

    Within-doc repeats do NOT flag (distinct-doc count, not occurrence
    count); docs shorter than k tokens emit (0, 0, 0).

    Scale shape: one doc-keyed window to form spans, one (span, id)
    distinct aggregate (map-side partials absorb hot spans), one span
    equi-join of the flagged-span set back onto span positions — the
    flagged set is the duplicated-content volume, usually orders of
    magnitude under the corpus span count, so AQE broadcasts it at
    moderate scale and the join stays a shuffle equi-join (never
    all-pairs) beyond that.
    """
    sp = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(text_col, k)).alias("s"),
    )
    xdoc = (
        sp.select("s", "id")
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("s")
    )
    tot = sp.groupBy("id").agg(F.count("*").alias("n_spans"))
    dup = (
        sp.join(xdoc, "s", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_dup"))
    )
    from yatsm_spark.operators.quality import _x1e4

    return (
        docs.select(F.col(id_col).alias("id"))
        .join(tot, "id", "left")
        .join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce(
                _x1e4(F.coalesce("n_dup", F.lit(0)), F.col("n_spans")),
                F.lit(0).cast("bigint"),
            ).alias("dup_span_frac_x1e4"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    max_docs: int = 1,
    broadcast_threshold: int | None = 10_000_000,
) -> DataFrame:
    """Paragraph-level boilerplate dedup: drop every occurrence of any
    paragraph (``delim``-separated text unit) appearing in more than
    ``max_docs`` DISTINCT documents, and reassemble the surviving text
    in order — the RefinedWeb/Dolma paragraph-dedup stage (nav bars,
    cookie banners, license boilerplate repeat across pages verbatim
    while the doc as a whole is unique, so doc-level dedup never sees
    them).  Returns (id, clean_text, n_paras, n_dropped).

    Scale shape (100 TB): the document TEXT never shuffles.  The explode
    projects each paragraph to (id, pos, xxhash64) map-side — ~24 B/row
    through the two slim aggregates (distinct (h, id) -> doc-frequency;
    hot set = freq > max_docs) — and the hot set joins back against the
    slim (id, pos, h) stream, broadcast when its measured count is under
    ``broadcast_threshold`` (decontaminate's count-guard pattern; None =
    let AQE decide).  Dropped POSITIONS are regrouped per doc (a few
    ints/doc) and the final join back to ``docs`` is on the id, after
    which the line filter is a map-side array expression over
    split(text) — so the only payload-bearing shuffle in the whole plan
    is that id-keyed join of (id, drop_pos-array), not the corpus.

    Identity is the 64-bit xxhash64 of the verbatim paragraph (the same
    collision stance as the MinHash pipeline); semantics are defined on
    paragraph CONTENT — the DuckDB oracle groups the raw strings.
    Null text coalesces to '' (one empty paragraph, both engines).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(txt, delim)).alias("pos", "ln"),
    ).select("id", "pos", F.xxhash64("ln").alias("h"))
    hot = (
        paras.select("h", "id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") > max_docs)
        .select("h")
    )
    if broadcast_threshold is not None and hot.count() <= broadcast_threshold:
        hot = F.broadcast(hot)
    drops = (
        paras.join(hot, "h", "inner")
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("_drop_pos"),
            F.count("*").alias("_n_dropped"),
        )
    )
    ls = F.split(txt, delim)
    kept = F.filter(
        ls,
        lambda ln, i: F.col("_drop_pos").isNull()
        | ~F.array_contains(F.col("_drop_pos"), i),
    )
    return (
        docs.join(drops, docs[id_col] == drops["id"], "left")
        .select(
            F.col(id_col),
            F.array_join(kept, delim).alias("clean_text"),
            F.size(ls).cast("bigint").alias("n_paras"),
            F.coalesce("_n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        )
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: all (id_a < id_b) with Hamming distance
    <= ``max_hamming`` between ``bits``-bit SimHashes — the BITWISE
    member of the near-dup family (MinHash = set overlap, TF-IDF
    cosine = weighted bag-of-words, embeddings = dense semantic),
    i.e. Manku et al. WWW 2007's web-dedup formulation re-derived.

    Candidate generation is pigeonhole banding: split the hash into
    ``bands`` equal bit-ranges; two hashes within Hamming distance
    k < bands MUST agree on at least one whole band (at most k of the
    bands can contain a differing bit), so an equi-join on
    (band_index, band_value) finds EVERY qualifying pair — banding is
    lossless for the verified predicate, unlike MinHash-LSH's
    probabilistic bands.  Candidates then verify with the exact
    JVM-side popcount bit_count(xor) <= k; no false positives survive.

    ``max_bucket`` is the boilerplate guard (same role as
    ngram_jaccard's max_shingle_freq): a band value shared by a
    corpus-sized near-identical cluster makes the band join quadratic,
    so buckets above the cap are DROPPED (documented recall loss on
    exactly those degenerate clusters — use minhash_lsh_pairs'
    star-guard path for transitive clustering of boilerplate).
    ``metrics`` (optional dict, no-silent-caps rule) records
    ``simhash_dropped_buckets`` / ``simhash_dropped_rows`` for the
    dropped set via one extra 1-row aggregate job — opt-in.

    Scale notes (100 TB design): signatures are map-side (simhash64 is
    one aggregate() fold per row); the ONLY shuffles are the slim
    (r, v, id, sh) band explode (bands x one 16-byte row per doc) and
    the band equi-join, quadratic-risk bounded by max_bucket; the
    verify is a row-local expression, and pair dedup keys on
    (id_a, id_b) AFTER the cheap popcount filter.

    Returns (id_a, id_b, hamming).
    """
    from yatsm_spark.functions.textops import simhash64

    if bits % bands:
        raise ValueError("bits must divide into equal bands")
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole guarantee needs max_hamming < bands "
            f"(got k={max_hamming}, bands={bands})"
        )
    bw = bits // bands
    mask = (1 << bw) - 1
    sig = docs.select(
        F.col(id_col).alias("id"), simhash64(text_col, bits).alias("sh")
    )
    bnd = sig.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.shiftrightunsigned("sh", r * bw)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for r in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", "sh", F.col("b.r").alias("r"), F.col("b.v").alias("v"))
    if max_bucket is not None:
        sizes = bnd.groupBy("r", "v").agg(F.count("*").alias("_n"))
        if metrics is not None:
            row = (
                sizes.filter(F.col("_n") > max_bucket)
                .agg(
                    F.count("*").alias("b"),
                    F.coalesce(F.sum("_n"), F.lit(0)).alias("r"),
                )
                .collect()[0]  # bounded: one row
            )
            metrics["simhash_dropped_buckets"] = int(row["b"])
            metrics["simhash_dropped_rows"] = int(row["r"])
        bnd = bnd.join(
            sizes.filter(F.col("_n") <= max_bucket).drop("_n"), ["r", "v"]
        )
    a = bnd.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "r", "v")
    b = bnd.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "r", "v")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["r", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .distinct()
    )
