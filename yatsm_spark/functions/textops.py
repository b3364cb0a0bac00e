"""Text-analysis + deduplication column builders (pure Spark expressions).

Training-data-pipeline operators over `documents`-shaped tables — all
JVM-side `pyspark.sql.functions` compositions (whole-stage codegen, no
Python in the hot path):

  * :func:`tokens` / :func:`token_stats`   — token counting + quality scoring
  * :func:`lang_id_score`                  — n-gram-heuristic language ID
  * :func:`fingerprint`                    — md5 document fingerprint
  * :func:`portable_hash64`                — md5-derived 32-bit-range hash that
    DuckDB reproduces exactly (`('0x'||substr(md5(x),1,8))::BIGINT`) — used
    wherever an oracle must recompute our hashes; xxhash64 stays the fast
    path where no cross-engine parity is needed
  * :func:`simhash64`                      — 64-bit SimHash of the token set

Reference analog: none — YATSM is numeric-only; these are the axis-A
(webtext payload) operators the 100 TB training-data pipeline needs
(task brief: dedup / text analysis as first-class components).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Large prime < 2^31 for portable modular hashing (fits exactly in both
# engines' BIGINT arithmetic; md5 prefix is 32 bits so no overflow).
_PRIME = 2147483647


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokenization — `split` on single space keeps semantics
    identical in DuckDB's string_split (both preserve empty tokens, but our
    generator emits single-spaced text)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_stats(text_col: str = "text") -> list[Column]:
    """Quality scoring: token count, mean token length, uppercase ratio,
    digit ratio — all codegen'd expressions."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    return [
        n_tok.alias("n_tokens"),
        F.round((n_chars - n_tok + 1) / n_tok, 4).alias("mean_tok_len"),
        F.round(
            F.length(F.regexp_replace(F.col(text_col), "[^0-9]", "")) / n_chars, 4
        ).alias("digit_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col(text_col), "[^A-Z]", "")) / n_chars, 4
        ).alias("upper_ratio"),
    ]


# Tiny per-language stopword marker sets for the n-gram heuristic lang ID.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "a", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def lang_id_score(text_col: str = "text") -> Column:
    """Language-ID heuristic: the language whose marker-word hit count is
    highest ('und' when all zero).  array_max over (score, lang) structs —
    deterministic tie-break by lang string order baked into the struct."""
    toks = tokens(text_col)

    def _eq(word: str):
        # factory, NOT a default-arg lambda: PySpark dispatches higher-order
        # lambdas on parameter COUNT, so extra default args break arity.
        return lambda t: t == word

    entries = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        score = None
        for m in markers:
            hit = F.size(F.filter(toks, _eq(m)))
            score = hit if score is None else score + hit
        entries.append(F.struct(score.alias("s"), F.lit(lang).alias("l")))
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def fingerprint(text_col: str = "text") -> Column:
    """Document fingerprint: md5 hex (portable to every SQL engine)."""
    return F.md5(F.col(text_col) if isinstance(text_col, str) else text_col)


def portable_hash64(col: Column, salt: int | None = None) -> Column:
    """32-bit-range hash reproducible bit-for-bit in DuckDB:
    Spark  : conv(substr(md5(concat(x, '#', salt)), 1, 8), 16, 10)::bigint
    DuckDB : ('0x' || substr(md5(x || '#' || salt), 1, 8))::BIGINT
    (verified identical this session)."""
    x = col if salt is None else F.concat(col, F.lit(f"#{salt}"))
    return F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")


def simhash64(text_col: str = "text", bits: int = 64) -> Column:
    """SimHash: for each bit b, sum over distinct tokens of +/-1 according
    to bit b of the token hash; bit set iff the sum is positive.

    Uses two independent 32-bit portable hashes for the low/high 32 bits so
    an oracle can reproduce it without 64-bit hex parsing.

    Single-pass formulation: ONE aggregate() over the token array carries a
    ``bits``-wide vote vector (zip_with accumulator += per-token ±1 bit
    vector from literal bitmasks), then one zip_with against a literal
    weight array packs the sign bits.  The per-bit formulation (one
    aggregate pass per bit = 32-64 scans of the token array) produced the
    identical result ~2x slower end-to-end on docs_simhash32.
    """
    toks = F.array_distinct(tokens(text_col))
    pairs = F.transform(
        toks,
        lambda t: F.struct(
            portable_hash64(t).alias("lo"), portable_hash64(t, salt=1).alias("hi")
        ),
    )
    lo_masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(min(bits, 32))])
    hi_masks = F.array(*[F.lit(1 << (b - 32)).cast("bigint") for b in range(32, bits)])

    def _votevec(h: Column) -> Column:
        def pm(masks: Column, word: Column) -> Column:
            return F.transform(
                masks,
                lambda m: F.when(word.bitwiseAND(m) != 0, F.lit(1).cast("bigint"))
                .otherwise(F.lit(-1).cast("bigint")),
            )

        vec = pm(lo_masks, h["lo"])
        if bits > 32:
            vec = F.concat(vec, pm(hi_masks, h["hi"]))
        return vec

    def _accum(acc: Column, h: Column) -> Column:
        return F.zip_with(acc, _votevec(h), lambda a, b: a + b)

    votes = F.aggregate(
        pairs, F.array_repeat(F.lit(0).cast("bigint"), bits), _accum
    )
    weights = F.array(
        *[F.lit(2**b if b < 63 else -(2**63)).cast("bigint") for b in range(bits)]
    )
    packed = F.zip_with(
        votes,
        weights,
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(packed, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def extract_text(html_col: str | Column, charset: str = "UTF-8") -> Column:
    """Extracted text from an ``html binary`` column: JVM-side decode +
    tag-strip (regexp), zero Python in the path.

    This is the pipeline front door for the input_hint crawl schema
    (url, warc_ts, html, text, ...): ``text`` must equal
    ``extract_text(html)`` BYTE-IDENTICALLY per url, independent of
    partitioning (north-rule per-row invariant; asserted in
    tests/test_determinism.py).  The regexp strip covers the synthetic
    crawl's markup; a production extractor (trafilatura-class) slots in
    behind the same column contract as an Arrow-batched pandas UDF.
    """
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.regexp_replace(F.decode(c, charset), "<[^>]*>", "")


def canonicalize_url(url_col: str | Column) -> Column:
    """Canonical URL form for crawl dedup/grouping — pure JVM expressions:
    lowercase scheme+host, strip default ports (:80 http / :443 https),
    empty path -> '/', query params sorted with tracking params (utm_*)
    dropped, fragment removed.

    Two raw variants of one page ('HTTP://X.com:80/a?b=2&a=1#top' vs
    'http://x.com/a?a=1&b=2') canonicalize identically, so the exact-dedup
    fingerprint shuffle key collapses them.  Cross-engine reproducible
    (DuckDB twin in __spark_entry__._URL_CANON).
    """
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    qs = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    # schemeless / unparseable inputs pass through UNCHANGED: every
    # regexp_extract returns '' on no match, so without this guard all
    # such rows would collapse onto one fabricated '://'-prefixed key —
    # a dedup false-merge across unrelated malformed urls
    return F.when(scheme != "", canon).otherwise(u)


def url_host(url_col: str | Column) -> Column:
    """Lowercased host with any port stripped — the per-domain quota
    grouping key (jobs/corpus.py --domain-cap).  Schemeless/unparseable
    urls yield '' and therefore share one quota bucket; upstream
    canonicalization passes such urls through unchanged, so a corpus
    with many of them should pre-filter rather than rely on the cap."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    return F.regexp_replace(hostport, r":\d+$", "")


def hash_bucket_pct(col: str | Column, salt: int = 0) -> Column:
    """Deterministic 0-99 bucket from the portable content hash — the
    primitive under :func:`hash_sample` / :func:`hash_split`.  Depends
    only on the VALUE (never partitioning, never a RNG), so samples and
    splits are reproducible across runs, cluster sizes, and engines
    (DuckDB twin uses the same md5-prefix hash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(portable_hash64(c.cast("string"), salt=salt), F.lit(100))


def hash_sample(df: DataFrame, keep_pct: int, key_col: str, salt: int = 0) -> DataFrame:
    """Deterministic ``keep_pct``-percent sample keyed on content hash —
    the training-data downsampler.  Unlike ``df.sample()`` (rand() per
    row: partitioning-dependent, irreproducible across cluster sizes),
    membership is a pure function of the key, so re-runs, backfills, and
    different cluster layouts select the SAME rows, and a document keeps
    or loses membership consistently across every derived table keyed the
    same way."""
    return df.filter(hash_bucket_pct(key_col, salt) < keep_pct)


def hash_split(
    df: DataFrame,
    key_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash (the
    remainder after train+val is test).  Same guarantees as
    :func:`hash_sample`; a key's split never changes when data is
    re-partitioned, re-ingested, or the corpus grows."""
    b = hash_bucket_pct(key_col, salt)
    return df.withColumn(
        out_col,
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


# --------------------------------------------------------------- PII scrub

# Patterns restricted to syntax RE2 (DuckDB) and java.util.regex (Spark)
# evaluate identically: no lookaround, no backrefs.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_ORDER = (
    (PII_EMAIL_RE, "<EMAIL>"),  # emails FIRST: an address can embed digits
    (PII_IPV4_RE, "<IP>"),      # + dots that the looser IP pattern would eat
)


def redact_pii(text_col: str | Column = "text") -> Column:
    """Replace emails then IPv4 literals with typed placeholder tokens.

    Pure `regexp_replace` chain — map-side, codegen, no shuffle; the
    replacement ORDER is part of the contract (see _PII_ORDER).  The
    point of placeholders (vs deletion) is that token offsets around the
    redaction stay trainable and the redaction is auditable downstream.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat, repl in _PII_ORDER:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(text_col: str | Column = "text") -> list[Column]:
    """[n_emails, n_ips] matched in the ORIGINAL text (audit metric).

    n_ips counts IPs visible after email redaction, mirroring the
    redact_pii order, so the two columns never double-count one span.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_emails = F.regexp_count(c, F.lit(PII_EMAIL_RE)).alias("n_emails")
    after_email = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IPV4_RE)).alias("n_ips")
    return [n_emails, n_ips]


# ----------------------------------------------------------- doc chunking


def chunk_documents(
    df,
    size: int = 256,
    stride: int = 192,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Split each document's token sequence into overlapping fixed-size
    chunks — the training-data prep step that turns cleaned documents
    into model-ready context windows (stride < size gives the standard
    overlapping windows; stride == size gives disjoint packing).

    Chunk i covers tokens [i*stride, i*stride + size); starts are
    generated while start < n_tokens, so the final chunk may be short
    but every token lands in at least one chunk.  House tokenizer
    (:func:`tokens`, single-space split) so the DuckDB twin is exact;
    note split('') yields [''], so an empty text emits ONE empty chunk —
    a row-preserving contract (no document silently vanishes; NULL text
    is coalesced to '' for the same reason — posexplode of a NULL
    sequence would silently drop the row).

    Scale shape (100 TB): fully map-side — sequence() + posexplode +
    slice are narrow; output rows ~ n_tokens/stride per doc, no shuffle,
    no UDF.  requires size >= 1, stride >= 1 (asserted).

    Reference analog: none — YATSM has no text surface [U]; this is the
    training-pipeline chunking stage (task brief: token-window prep).
    """
    assert size >= 1 and stride >= 1, "size and stride must be >= 1"
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.posexplode(starts).alias("chunk_id", "_start")
    )
    chunk_toks = F.slice(F.col("_toks"), F.col("_start") + 1, size)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("_start").cast("long").alias("start_tok"),
        F.size(chunk_toks).cast("long").alias("chunk_tokens"),
        F.array_join(chunk_toks, " ").alias("chunk_text"),
    )


# ------------------------------------------------------- C4 line cleaning


def c4_line_stats(
    text_col: str | Column = "text",
    min_words_per_line: int = 5,
    min_lines: int = 3,
) -> list[Column]:
    """C4-style line-level cleaning signals (Raffel et al. 2020, the C4
    corpus recipe): a line SURVIVES iff it ends in a terminal punctuation
    mark ('.', '!', '?', '"'), has >= ``min_words_per_line`` whitespace
    words, and does not mention 'javascript' (case-insensitive); the PAGE
    survives iff >= ``min_lines`` lines survive and the page contains
    neither 'lorem ipsum' nor a curly brace.

    Columns returned: ``clean_text`` (surviving lines re-joined with \\n),
    ``n_lines`` / ``n_lines_kept``, and ``c4_keep`` (the page verdict).

    Everything is suffix / substring / split algebra — NO regex — so
    Spark and any SQL oracle agree byte-for-byte with no RE2-vs-Java
    dialect risk; pure map-side codegen, zero shuffle (same profile as
    the other textops quality signals).

    Reference analog: none — YATSM has no text surface [U]; this is the
    published C4 cleaning stage of a web-corpus training pipeline.
    """
    c = F.coalesce(
        text_col if isinstance(text_col, Column) else F.col(text_col), F.lit("")
    )
    lines = F.split(c, "\n")

    def _line_ok(ln: Column) -> Column:
        t = F.trim(ln)
        last = F.substring(t, -1, 1)
        return (
            last.isin(".", "!", "?", '"')
            & (F.size(F.split(ln, " ")) >= min_words_per_line)
            & ~F.contains(F.lower(ln), F.lit("javascript"))
        )

    kept = F.filter(lines, _line_ok)
    lowered = F.lower(c)
    page_ok = (
        (F.size(kept) >= min_lines)
        & ~F.contains(lowered, F.lit("lorem ipsum"))
        & ~F.contains(lowered, F.lit("{"))
    )
    return [
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        page_ok.alias("c4_keep"),
    ]
