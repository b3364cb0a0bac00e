"""Deterministic synthetic ``crawl`` table generator (FIXTURES.md §1).

Shape fixed by BASELINE.json input_hint:
    crawl(url string, warc_ts timestamp, html binary, text string, lang string)
plus layout columns ``p_bucket`` (murmur3 bucket of url — sandbox analog of
Iceberg ``bucket(url, B)``) and ``p_day`` (date — analog of ``days(warc_ts)``).

Everything is generated with built-in Spark SQL expressions seeded by
``xxhash64`` — NO Python UDFs, NO rand() — so the table is bit-identical
regardless of parallelism, partitioning, or run count (north_rule requires
cluster-size-invariant results; a ``rand(seed)`` column is partition-order
dependent, a hash of the row key is not).

Signal model (the measured series is ``length(text)``):
    len(t) = 2000 + 300*cos(2*pi*t/7d) + break(t) + trend(t) + noise
(weekly seasonality — the web-traffic analog of Landsat's annual cycle; an
annual harmonic would be unidentifiable over the default 120-day span)
  * urls with url_id % 7 == 3: level shift +800 after a per-url break time
  * urls with url_id % 7 == 5: slope +3/day after the break time
  * noise: sum of three hash-uniforms, approx N(0, 20^2), deterministic
Planted gaps: each url drops one contiguous 5-15% window of its grid.
Hot domain: ``hot.example`` urls crawl hourly and own ~20% of all rows
(drives the salting / skew tests).

Reference analog: the p013r030 example Landsat stack + image-list CSV
(yatsm/utils.py::csvfile_to_dataframe [U], SURVEY.md §1.1) — a deterministic
stack of timestamped observations per key with seasonal signal + breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yatsm_spark.sources.storage import N_BUCKETS, with_layout

SEED = 42
START_TS = "2024-01-01 00:00:00"
SIGNAL_PERIOD_DAYS = 7.0

# cadence hours for non-hot urls, chosen per url by hash
_CADENCES = [3, 6, 12, 24, 72, 168]


def _u(*cols, salt: int) -> F.Column:
    """Deterministic uniform in [0, 1) from a row key — partition-invariant."""
    return F.pmod(F.xxhash64(*cols, F.lit(SEED + salt)), F.lit(1_000_000_000)) / 1e9


def generate_crawl(
    spark: SparkSession,
    n_urls: int = 2_000,
    span_days: int = 120,
    seed: int = SEED,  # noqa: ARG001 — kept in signature for clarity; SEED is baked into exprs
) -> DataFrame:
    """Build the crawl DataFrame lazily (no action triggered).

    Scales (FIXTURES.md): tiny n_urls=50, small n_urls=2k, bench n_urls=20k
    (~7.5M rows at span_days=120).
    """
    n_hot = max(1, n_urls // 40)  # ~2.5% of urls, hourly => ~20% of rows

    urls = (
        spark.range(n_urls)
        .withColumnRenamed("id", "url_id")
        .withColumn("is_hot", F.col("url_id") < n_hot)
        # zipf-ish domain skew for the non-hot tail: u^3 concentrates mass at low ids
        .withColumn(
            "domain",
            F.when(F.col("is_hot"), F.lit("hot.example")).otherwise(
                F.format_string(
                    "d%03d.example",
                    F.least(
                        F.lit(199),
                        F.floor(F.pow(_u(F.col("url_id"), salt=1), F.lit(3.0)) * 200).cast("int"),
                    ),
                )
            ),
        )
        .withColumn(
            "url",
            F.format_string("https://%s/page%06d", F.col("domain"), F.col("url_id").cast("int")),
        )
        .withColumn(
            "cadence_h",
            F.when(F.col("is_hot"), F.lit(1)).otherwise(
                F.element_at(
                    F.array(*[F.lit(c) for c in _CADENCES]),
                    (F.pmod(F.xxhash64("url_id", F.lit(SEED + 2)), F.lit(len(_CADENCES))) + 1).cast("int"),
                )
            ),
        )
        .withColumn("n_obs", (F.lit(span_days * 24) / F.col("cadence_h")).cast("int"))
        # planted gap: contiguous [gap_lo, gap_hi) fraction of the obs index range
        .withColumn("gap_lo", 0.10 + _u(F.col("url_id"), salt=3) * 0.70)
        .withColumn("gap_hi", F.col("gap_lo") + 0.05 + _u(F.col("url_id"), salt=4) * 0.10)
        # per-url break time as fraction of span (used by break/trend urls)
        .withColumn("brk_frac", 0.45 + _u(F.col("url_id"), salt=5) * 0.20)
        .withColumn("kind", F.pmod(F.col("url_id"), F.lit(7)))
    )

    obs = (
        urls.select(
            "url_id", "url", "domain", "cadence_h", "brk_frac", "kind",
            F.explode(F.sequence(F.lit(0), F.col("n_obs") - 1)).alias("i"),
            "gap_lo", "gap_hi",
        )
        # drop the planted gap window
        .filter(
            ~(
                (F.col("i") >= F.col("gap_lo") * (F.lit(span_days * 24) / F.col("cadence_h")))
                & (F.col("i") < F.col("gap_hi") * (F.lit(span_days * 24) / F.col("cadence_h")))
            )
        )
        .withColumn(
            "warc_ts",
            F.to_timestamp(F.lit(START_TS))
            + F.make_interval(
                secs=(
                    F.col("i") * F.col("cadence_h") * 3600
                    + (_u("url_id", "i", salt=6) * 840 - 420)  # jitter +/- 7 min
                ).cast("double")
            ),
        )
        .withColumn("t_days", (F.unix_timestamp("warc_ts") - F.unix_timestamp(F.to_timestamp(F.lit(START_TS)))) / 86400.0)
        .withColumn("brk_t", F.col("brk_frac") * span_days)
        .withColumn(
            "signal",
            F.lit(2000.0)
            + 300.0 * F.cos(F.lit(2 * math.pi / SIGNAL_PERIOD_DAYS) * F.col("t_days"))
            + F.when((F.col("kind") == 3) & (F.col("t_days") >= F.col("brk_t")), 800.0).otherwise(0.0)
            + F.when(
                (F.col("kind") == 5) & (F.col("t_days") >= F.col("brk_t")),
                3.0 * (F.col("t_days") - F.col("brk_t")),
            ).otherwise(0.0)
            + (
                _u("url_id", "i", salt=7) + _u("url_id", "i", salt=8) + _u("url_id", "i", salt=9)
                - 1.5
            )
            * 40.0  # sum of 3 uniforms: std 0.5 -> noise std 20
        )
        .withColumn("text_len", F.greatest(F.lit(64), F.round("signal").cast("int")))
    )

    lang = (
        F.when(_u("url_id", "i", salt=10) < 0.60, "en")
        .when(_u("url_id", "i", salt=10) < 0.75, "de")
        .when(_u("url_id", "i", salt=10) < 0.85, "fr")
        .when(_u("url_id", "i", salt=10) < 0.95, "es")
        .otherwise("und")
    )

    crawl = (
        obs.withColumn(
            "text",
            F.rpad(
                F.format_string("u%d t%d ", F.col("url_id").cast("int"), F.unix_timestamp("warc_ts").cast("int")),
                F.col("text_len"),
                F.lit("lorem ipsum dolor sit amet consectetur adipiscing elit "),
            ),
        )
        .withColumn("lang", lang)
        .withColumn(
            "html",
            F.encode(F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8"),
        )
    )
    return with_layout(crawl).select("url", "warc_ts", "html", "text", "lang", "p_bucket", "p_day")


def write_crawl(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("p_bucket",),
    files_per_bucket: int = 4,
) -> None:
    """Write the crawl table.

    Sandbox layout: Parquet partitioned by ``p_bucket`` with rows sorted by
    (url, warc_ts) within files — min/max stats then prune on warc_ts
    predicates almost as well as a days() partition would.  On a real
    cluster the Iceberg writer uses ``bucket(url, B) x days(warc_ts)``
    (see sources/storage.py).

    ``files_per_bucket`` sub-splits each bucket on a url hash and caps the
    parquet row-group size at 32 MiB: a table written as one 100 MiB
    single-row-group file per bucket admits only n_buckets scan splits, so
    a 4x-larger cluster reads it no faster (measured: 1.3x instead of 4x
    going local[8] -> local[32]).  Splittable files are what make the scan
    scale with the cluster.
    """
    nparts = N_BUCKETS * files_per_bucket
    (
        df.repartition(
            nparts,
            *[F.col(c) for c in partition_by],
            F.pmod(F.xxhash64("url"), F.lit(files_per_bucket)),
        )
        .sortWithinPartitions("url", "warc_ts")
        .write.mode("overwrite")
        .option("parquet.block.size", 32 * 1024 * 1024)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def generate_webtext(
    spark: SparkSession,
    n_docs: int = 120_000,
    seed: int = SEED,
) -> DataFrame:
    """Deterministic DIVERSE-text crawl for the corpus-cleaning pipeline.

    :func:`generate_crawl` pads every text with the SAME lorem-ipsum
    filler — right for the timeseries axis (the signal is length(text)),
    but as a corpus it is one giant near-dup family: every LSH band
    bucket holds ~all docs and the candidate join goes quadratic
    (measured: jobs/corpus.py on 120k such docs never finished the pair
    stage).  This generator produces the corpus-shaped complement: a
    ~50k-word vocabulary sampled per position by seeded hash, with
    PLANTED duplicate structure in blocks of 10 docs —

        slot 0-6 : independent docs (~100-500 words each)
        slot 7   : exact duplicate of slot 0
        slot 8   : near-dup of slot 0 (~5% of words mutated)
        slot 9   : near-dup of slot 0 (~10% mutated)
        slot 6 of every 3rd block: degenerate repeated-phrase spam
        ~5% of seeds: a PII sentence (email + IPv4) appended

    so exact dedup should drop ~10%, near-dup clustering ~20%, the
    repetition quality gate ~3%, and redact_pii has real work — known
    proportions the corpus bench and tests can assert against.

    Same output schema/layout columns as generate_crawl (one observation
    per url; snapshot's latest-crawl aggregate still exercises its
    shuffle).  Pure seeded-hash Spark expressions — bit-identical at any
    parallelism (north_rule cluster-size invariance), no rand(), no UDFs.
    """
    s = F.lit  # brevity for salt literals

    base = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn("block", (F.col("doc_id") / 10).cast("bigint"))
        .withColumn("slot", F.pmod("doc_id", s(10)))
        # family members (slots 7-9) draw their words from slot 0's seed
        .withColumn(
            "seed_id",
            F.when(F.col("slot") >= 7, F.col("block") * 10).otherwise(F.col("doc_id")),
        )
        .withColumn(
            "n_words",
            (100 + F.pmod(F.xxhash64("seed_id", s(seed + 21)), s(400))).cast("int"),
        )
        .withColumn(
            "mut_pct",
            F.when(F.col("slot") == 8, 5).when(F.col("slot") == 9, 10).otherwise(0),
        )
    )

    doc_id, seed_id = F.col("doc_id"), F.col("seed_id")
    words = F.transform(
        F.sequence(s(1), F.col("n_words")),
        lambda i: F.when(
            F.pmod(F.xxhash64(doc_id, i, s(seed + 23)), s(100)) < F.col("mut_pct"),
            F.concat(s("m"), F.pmod(F.xxhash64(doc_id, i, s(seed + 24)), s(50_000))),
        ).otherwise(
            F.concat(s("w"), F.pmod(F.xxhash64(seed_id, i, s(seed + 22)), s(50_000)))
        ),
    )
    spam = F.rpad(s("click here buy now "), 950, "click here buy now ")
    pii = F.concat(
        s(" contact user"),
        F.pmod(F.xxhash64(seed_id, s(seed + 26)), s(1000)),
        s("@example.com at 10.0."),
        F.pmod(F.xxhash64(seed_id, s(seed + 27)), s(256)),
        s(".7"),
    )

    lang = (
        F.when(_u("seed_id", salt=seed + 28) < 0.60, "en")
        .when(_u("seed_id", salt=seed + 28) < 0.75, "de")
        .when(_u("seed_id", salt=seed + 28) < 0.85, "fr")
        .when(_u("seed_id", salt=seed + 28) < 0.95, "es")
        .otherwise("und")
    )

    corpus = (
        base.withColumn(
            "text",
            F.when(
                (F.col("slot") == 6) & (F.pmod("block", s(3)) == 0), spam
            ).otherwise(
                F.concat(
                    F.array_join(words, " "),
                    F.when(
                        F.pmod(F.xxhash64(seed_id, s(seed + 25)), s(20)) == 0, pii
                    ).otherwise(s("")),
                )
            ),
        )
        .withColumn(
            "url",
            F.format_string(
                "https://site%d.example/p/%d",
                F.pmod("doc_id", s(5000)).cast("int"),
                F.col("doc_id").cast("int"),
            ),
        )
        .withColumn(
            "warc_ts",
            F.to_timestamp(s(START_TS))
            + F.make_interval(secs=F.pmod("doc_id", s(259_200)).cast("double")),
        )
        .withColumn("lang", lang)
        .withColumn(
            "html",
            F.encode(
                F.concat(s("<html><body>"), F.col("text"), s("</body></html>")), "UTF-8"
            ),
        )
    )
    return with_layout(corpus).select("url", "warc_ts", "html", "text", "lang", "p_bucket", "p_day")
