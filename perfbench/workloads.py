"""The benchmark workloads.

Each workload is one client in a closed loop over the engine's public entry
points.  ``choose`` picks the seeded inputs, ``build`` generates them and
reads every column once (it is repeated to time set-up), ``prepare``
derives the inputs the engine itself must build, ``warm`` runs one untimed
operation of each kind,
``unit`` gives the loop's next unit of work (a list of operations), and
``check`` compares what was written or read with ``oracle`` expectations.

Sizes are chosen so that one run, set-up included, fits the benchmark's
per-run budget on a 4-core host; every size is printed with the result.
"""

from __future__ import annotations

import calendar
import glob
import os
import random
import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import oracle
from yatsm_spark.datagen import START_TS, generate_crawl, generate_webtext
from yatsm_spark.functions.ccdc import CCDCParams, fit_series_chunked
from yatsm_spark.functions.codec import decode_series, encode_series
from yatsm_spark.operators import graph
from yatsm_spark.operators.rollup import stitch_range
from yatsm_spark.plans.blobs import encode_blobs, read_blob_range
from yatsm_spark.plans.segmentation import segment_series
from yatsm_spark.sources.storage import prune_url, write_bucketed_tier

# jobs/rollup.py's --segment parameters (weekly signal, 8-week spans)
CCDC = CCDCParams(period=7.0, min_span=56.0, retrain_time=56.0)
START_EPOCH = calendar.timegm(time.strptime(START_TS, "%Y-%m-%d %H:%M:%S"))
POOL = 200  # generate_crawl url pool the seeded subsets are drawn from


def seeded_urls(spark, seed: int, n_urls: int, n_hot: int, span_days: int) -> list[str]:
    """A seed-dependent url subset of one generate_crawl pool that does the
    same amount of work for every seed: a fixed number of hourly ("hot")
    urls, and the rest drawn evenly from strata of the pool's urls ranked
    by crawl rows (generate_crawl gives each url one of six cadences, and a
    url's cadence sets how many tier points it yields)."""
    rows = generate_crawl(spark, n_urls=POOL, span_days=span_days).groupBy("url").count().collect()
    hot = sorted(r["url"] for r in rows if r["url"].startswith("https://hot."))
    ranked = [r["url"] for r in sorted(rows, key=lambda r: (r["count"], r["url"]))
              if not r["url"].startswith("https://hot.")]
    rng = random.Random(seed)
    k = n_urls - n_hot
    urls = rng.sample(hot, n_hot)
    for s in range(k):
        urls.append(rng.choice(ranked[len(ranked) * s // k: len(ranked) * (s + 1) // k]))
    return sorted(urls)


def seeded_crawl(spark, urls: list[str], span_days: int) -> DataFrame:
    return generate_crawl(spark, n_urls=POOL, span_days=span_days).filter(F.col("url").isin(urls))


def touch_all(df: DataFrame) -> None:
    """All-column aggregate: reads every value of every column (a count()
    on parquet would read only metadata)."""
    cols = [F.to_json(c) if t.startswith("map") else F.col(c) for c, t in df.dtypes]
    df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).collect()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def dir_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def iso(epoch: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch))


class Workload:
    name = ""
    latency_kinds = ("pass",)  # op kinds whose medians op_ms_p50 averages
    throughput_kind = "pass"  # op kind items_per_s and bytes_per_item come from

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed
        self.work = ctx.work
        self.tracer = ctx.tracer
        self.errors: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def choose(self) -> None:
        """Pick the seeded inputs (once, before the timed builds)."""

    def prepare(self) -> None:
        pass

    def sizes(self) -> dict:
        return {}


class Series(Workload):
    """The time-series store under a closed-loop client.  Set-up builds
    the 1d+30d tiers (process_incremental's one-shot path).  Each cycle
    serves single-url reads (stitch_range over 1d+30d, read_blob_range over
    the blobs, a prune_url lookup on the generated crawl, cached in memory
    with its p_bucket layout column), then refreshes the kernel outputs
    from the 1d tier the way the job's default bucketed path does
    (write_bucketed_tier, then presorted segment_series and encode_blobs);
    a traced cycle also folds one day into the tiers.  The 1h tier is left out: rewriting its ~24x more rows
    and day partitions would not fit the per-run time budget."""

    name = "series"
    latency_kinds = ("stitch", "blob", "prune")
    throughput_kind = "kernels"
    TIERS = ["1d", "30d"]
    TABLE = "perfbench_kernel_input"
    N_URLS, N_HOT, BASE_DAYS, DELTA_DAYS = 32, 2, 60, 10
    SPAN = BASE_DAYS + DELTA_DAYS
    READS_PER_CYCLE = 9

    def choose(self):
        self.urls = seeded_urls(self.spark, self.seed, self.N_URLS, self.N_HOT, self.SPAN)

    def build(self):
        if getattr(self, "crawl", None) is not None:
            self.crawl.unpersist()
        self.crawl = seeded_crawl(self.spark, self.urls, self.SPAN).persist()
        touch_all(self.crawl)

    def prepare(self):
        """The tiers the loop reads and folds into, built by the engine."""
        self.store = os.path.join(self.work, "store")
        self.out = os.path.join(self.work, "kernels")
        self.boundary = START_EPOCH + self.BASE_DAYS * 86400
        t0 = time.perf_counter()
        c = self.ctx.jobs_rollup.process_incremental(self.spark, self.before(self.boundary), self.store, self.TIERS)
        self.base = (sum(c[f"rollup_{t}"] for t in self.TIERS), time.perf_counter() - t0)
        self.open_tiers()
        self.rng = random.Random(self.seed)
        self.reads: list[tuple] = []
        self.folds: list[int] = []
        self.passes: list[tuple[int, int, int, int]] = []
        self.n_reads = 0

    def before(self, epoch: int) -> DataFrame:
        return self.crawl.filter(F.unix_timestamp("warc_ts") < epoch)

    def warm(self):
        """A kernel refresh and two reads of each kind."""
        self.refresh_kernels()
        for i in range(6):
            self.read(i)

    def open_tiers(self):
        self.t1d = self.spark.read.parquet(f"{self.store}/rollup_1d")
        self.t30d = self.spark.read.parquet(f"{self.store}/rollup_30d")

    def fold(self):
        lo, hi = self.boundary, self.boundary + 86400
        delta = self.crawl.filter(
            (F.unix_timestamp("warc_ts") >= lo) & (F.unix_timestamp("warc_ts") < hi)
        )
        c = self.ctx.jobs_rollup.process_incremental(self.spark, delta, self.store, self.TIERS)
        self.boundary = hi
        self.open_tiers()
        rows = sum(c[f"rollup_{t}"] for t in self.TIERS)
        self.folds.append(rows)
        return rows, sum(dir_bytes(f"{self.store}/rollup_{t}") for t in self.TIERS), rows

    def refresh_kernels(self):
        """Re-bucket the folded 1d tier, then segment and encode it
        shuffle-free (jobs/rollup.py's bucketed kernel path)."""
        tr = self.tracer
        with tr.span("sources.storage.write_bucketed_tier"):
            write_bucketed_tier(self.spark.read.parquet(f"{self.store}/rollup_1d"), self.TABLE)
        src = self.spark.table(self.TABLE)
        seg_obs, blob_obs = Observation("segments"), Observation("blobs")
        with tr.span("plans.segmentation.segment_series"):
            segment_series(src, CCDC, presorted=True).observe(
                seg_obs, F.count(F.lit(1)).alias("rows")
            ).write.mode("overwrite").parquet(f"{self.out}/segments")
        with tr.span("plans.blobs.encode_blobs"):
            encode_blobs(src, "1d", value_col="mean_len", presorted=True).observe(
                blob_obs, F.count(F.lit(1)).alias("rows"),
                F.sum("n_points").alias("points"),
                F.sum(F.length("ts_blob") + F.length("val_blob")).alias("blob_bytes"),
            ).write.mode("overwrite").parquet(f"{self.out}/blobs")
        self.blobs = self.spark.read.parquet(f"{self.out}/blobs")
        b = blob_obs.get
        points, nbytes = int(b["points"]), int(b["blob_bytes"])
        self.passes.append((self.boundary, int(seg_obs.get["rows"]), points, nbytes))
        return points, nbytes, points

    def read(self, i: int):
        u = self.rng.choice(self.urls)
        kind = i % 3
        if kind == 0:
            t0 = START_EPOCH + 86400 * self.rng.randrange((self.boundary - START_EPOCH) // 86400 - 1)
            t1 = min(self.boundary, t0 + 86400 * self.rng.randrange(1, 45))
            with self.tracer.span("operators.rollup.stitch_range"):
                r = stitch_range(
                    self.t1d.filter(F.col("url") == u), self.t30d.filter(F.col("url") == u),
                    t0, t1, 86400, 30 * 86400,
                ).agg(F.sum("cnt").alias("n"), F.sum("sum_len").alias("s")).collect()[0]
            self.reads.append(("stitch", u, t0, t1, self.boundary, (r["n"], r["s"])))
        elif kind == 1:
            t0 = START_EPOCH + 86400 * self.rng.randrange((self.boundary - START_EPOCH) // 86400 - 1)
            t1 = t0 + 86400 * self.rng.randrange(1, 8)
            with self.tracer.span("plans.blobs.read_blob_range"):
                rows = read_blob_range(
                    self.blobs.filter(F.col("url") == u), iso(t0), iso(t1)
                ).select(F.unix_timestamp("bucket_ts").alias("b"), "value").collect()
            self.reads.append(("blob", u, t0, t1, self.passes[-1][0], sorted((r["b"], r["value"]) for r in rows)))
        else:
            with self.tracer.span("sources.storage.prune_url"):
                r = prune_url(self.crawl, u).agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("s")
                ).collect()[0]
            self.reads.append(("prune", u, None, None, None, (r["n"], r["s"])))
        return 1, 0, 1

    def unit(self, trace_run: bool = False):
        """One cycle: single-url reads, then a kernel refresh.  A traced
        cycle folds a day in between; the untraced run leaves the fold out,
        because one fold costs more than the rest of the cycle and no gated
        metric could use its single, ~20%-spread sample."""
        i0 = self.n_reads
        self.n_reads += self.READS_PER_CYCLE
        reads = [(self.latency_kinds[i % 3], lambda i=i: self.read(i)) for i in range(i0, self.n_reads)]
        return reads + [("fold", self.fold)] * trace_run + [("kernels", self.refresh_kernels)]

    def series(self):
        """The kernel input collected to the driver: per url, the CCDC
        input (mean observation time in days, value) and the blob input
        (bucket start in microseconds, value)."""
        pdf = (
            self.spark.table(self.TABLE)
            .filter(~F.col("gap_filled"))
            .select(
                "url",
                F.unix_micros("bucket_ts").alias("us"),
                F.unix_micros(F.timestamp_seconds(F.col("sum_ts") / F.col("cnt"))).alias("obs_us"),
                F.col("mean_len").cast("double").alias("v"),
            )
            .toPandas()
            .sort_values(["url", "us"], kind="mergesort")
        )
        # the same float path as the plan: int64 ns / 1e9 / 86400
        return [
            (u, g["us"].to_numpy(), (g["obs_us"].to_numpy() * 1000) / 1e9 / 86400.0, g["v"].to_numpy())
            for u, g in pdf.groupby("url", sort=True)
        ]

    def check(self):
        raw = oracle.raw_columns(self.crawl).toPandas()
        self.raw_rows = len(raw)
        # folded tiers == the tiers built in one shot from the same rows
        want = oracle.tier_digests(raw[raw["ep"] < self.boundary], self.TIERS)
        for t in self.TIERS:
            folded = oracle.tier_digest(self.spark.read.parquet(f"{self.store}/rollup_{t}"))
            self.expect(folded == want[t][1], f"series: folded {t} != one-shot {t}")
        self.check_kernels()
        # every read against the raw rows as they stood when it ran
        cleaned = oracle.clean(raw)
        by_url = {u: g for u, g in cleaned.groupby("url")}
        tiers_1d: dict[int, dict] = {}
        self.decoded_points = self.returned_points = 0
        for kind, u, t0, t1, state, got in self.reads:
            g = by_url[u]
            if kind == "stitch":
                m = (g["ep"] >= t0) & (g["ep"] < t1)
                want_r = (int(m.sum()), int(g["tlen"][m].sum()))
                self.expect((got[0] or 0, got[1] or 0) == want_r, f"series: stitch {u} {t0}-{t1}")
            elif kind == "blob":
                if state not in tiers_1d:
                    t = oracle.tier(cleaned[cleaned["ep"] < state], "1d")
                    tiers_1d[state] = {k: v for k, v in t[~t["gap"]].groupby("url")}
                b = tiers_1d[state][u]
                m = (b["b"] >= t0) & (b["b"] <= t1)
                want_r = sorted(zip(b["b"][m].tolist(), b["mean_len"][m].tolist()))
                self.expect(got == want_r, f"series: blob range {u} {t0}-{t1}")
                # a blob overlapping the range is decoded whole
                self.decoded_points += len(b) if want_r else 0
                self.returned_points += len(want_r)
            else:
                self.expect(got == (len(g), int(g["tlen"].sum())), f"series: prune_url {u}")

    def check_kernels(self):
        """Segments and blobs of the last refresh against the kernels run
        per url on the driver, plus a codec round trip."""
        series = self.series()
        n_points = sum(len(s[1]) for s in series)
        self.expect(self.passes[-1][2] == n_points, "series: blob points != 1d tier points")
        segs = []
        for u, _, t, y in series:
            for i, s in enumerate(fit_series_chunked(t, y, CCDC)):
                segs.append((u, i, s.n_obs, s.status,
                             round(s.start_t * 86400.0 * 1e6), round(s.end_t * 86400.0 * 1e6)))
        got = (
            self.spark.read.parquet(f"{self.out}/segments")
            .select("url", "seg_id", "n_obs", "status", F.unix_micros("start_ts"), F.unix_micros("end_ts"))
            .collect()
        )
        self.expect(len(segs) > 0, "series: no segments fitted")
        self.expect(sorted(map(tuple, got)) == sorted(segs), "series: segments differ from driver-side fit")
        blobs = {
            r["url"]: (bytes(r["ts_blob"]), bytes(r["val_blob"]))
            for r in self.spark.read.parquet(f"{self.out}/blobs").collect()
        }
        self.expect(len(blobs) == len(series), "series: one blob per url")
        for u, us, _, v in series:
            tsb, vb = blobs.get(u, (b"", b""))
            self.expect((tsb, vb) == encode_series(us, v), f"series: blob bytes differ for {u}")
        for u, us, _, v in series[:: max(1, len(series) // 16)]:
            ts2, v2 = decode_series(*blobs[u])
            self.expect(np.array_equal(ts2, us) and np.array_equal(v2, v), f"series: round trip {u}")
        self._series = series

    def kernel_layer(self) -> dict:
        """functions.* alone: the collected series on one core, no Spark."""
        series = self._series
        n = sum(len(s[1]) for s in series)
        t0 = time.perf_counter()
        for _, _, t, y in series:
            fit_series_chunked(t, y, CCDC)
        t1 = time.perf_counter()
        blobs = [encode_series(us, v) for _, us, _, v in series]
        t2 = time.perf_counter()
        for tsb, vb in blobs:
            decode_series(tsb, vb)
        t3 = time.perf_counter()
        return {
            "functions.ccdc.fit_points_per_s": n / (t1 - t0),
            "functions.codec.encode_points_per_s": n / (t2 - t1),
            "functions.codec.decode_points_per_s": n / (t3 - t2),
        }

    def sizes(self):
        last = self.passes[-1] if self.passes else (None,) * 4
        return {"urls": self.N_URLS, "base_days": self.BASE_DAYS,
                "crawl_rows": getattr(self, "raw_rows", None), "folds": len(self.folds),
                "reads": len(self.reads), "stored_tier_rows": self.folds[-1] if self.folds else None,
                "points": last[2], "segments": last[1], "blob_bytes": last[3]}


class Corpus(Workload):
    """clean_corpus over generate_webtext(seed=...) with the production
    lsh_max_bucket=256, output written partitioned by split."""

    name = "corpus"
    N_DOCS = 1_500

    def build(self):
        if getattr(self, "docs", None) is not None:
            self.docs.unpersist()
        self.docs = generate_webtext(self.spark, n_docs=self.N_DOCS, seed=self.seed).persist()
        touch_all(self.docs)
        self.outs: list[str] = []
        self.stage_counts: list[dict] = []

    def warm(self):
        self.run_pass()

    def run_pass(self):
        """One cleaning pass, written to a directory of its own so that
        every pass's output can be checked afterwards."""
        out = os.path.join(self.work, "corpus", f"pass-{len(self.outs)}")
        cleaned, m = self.ctx.jobs_corpus.clean_corpus(self.docs, lsh_max_bucket=256)
        with self.tracer.span("sources.storage.write_corpus"):
            cleaned.write.mode("overwrite").partitionBy("split").parquet(out)
        cleaned.unpersist()
        self.outs.append(out)
        self.stage_counts.append(m)
        return self.N_DOCS, dir_bytes(out), m["cleaned"]

    def unit(self, trace_run: bool = False):
        return [("pass", self.run_pass)]

    def output_digest(self, path: str) -> tuple:
        return self.spark.read.parquet(path).agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64("doc_id", "text", "lang", "split"))
        ).collect()[0][:]

    def check(self):
        digests = {self.output_digest(p) for p in self.outs}
        self.expect(len(digests) == 1, "corpus: output differs between passes")
        self.expect(all(m == self.stage_counts[0] for m in self.stage_counts), "corpus: stage counts differ")
        m = self.stage_counts[-1]
        want = oracle.exact_dedup_survivors([r["text"] for r in self.docs.select("text").collect()])
        self.expect(m["exact_dedup"] == want, f"corpus: exact_dedup {m['exact_dedup']} != {want} distinct texts")
        idx = F.regexp_extract("doc_id", r"/p/(\d+)$", 1).cast("long")
        bad = self.spark.read.parquet(self.outs[-1]).filter(
            (idx % 10 == 7) | ((idx % 10 == 6) & ((idx / 10).cast("long") % 3 == 0))
        ).count()
        self.expect(bad == 0, f"corpus: {bad} planted exact dups or spam docs survived")
        self.expect(0 < m["cleaned"] < m["exact_dedup"], "corpus: near-dup/quality removed nothing")

    def sizes(self):
        m = self.stage_counts[-1] if self.stage_counts else {}
        return {"docs": self.N_DOCS, **{f"rows_{k}": v for k, v in m.items()}}


WORKLOADS = {w.name: w for w in (Series, Corpus)}


def install_trace(ctx, w: Workload) -> dict:
    """Wrap the engine's public functions that ``w`` calls indirectly
    through the jobs modules; returns counters the wraps fill."""
    tr, jr, jc = ctx.tracer, ctx.jobs_rollup, ctx.jobs_corpus
    extra = {"cc_rounds": 0, "candidate_pairs": 0, "pairs_kept": 0}
    if w.name == "series":
        for attr in ("series_clean", "rollup", "cascade", "gap_fill", "merge_tiers"):
            tr.wrap(jr, attr, f"operators.rollup.{attr}")
        tr.wrap(jr, "write_table", "sources.storage.write_table", force=False)
        tr.wrap(jr, "process_incremental", "jobs.rollup.process_incremental", force=False)
    if w.name == "corpus":
        tr.wrap(jc, "snapshot", "jobs.corpus.snapshot")
        tr.wrap(jc, "exact_dedup", "operators.dedup.exact_dedup")
        tr.wrap(jc, "repetition_stats", "operators.quality.repetition_stats")
        tr.wrap(jc, "clean_corpus", "jobs.corpus.clean_corpus", force=False)
        lsh, clusters, ckpt = jc.minhash_lsh_pairs, jc.neardup_clusters, graph._checkpoint
        calls = [0]

        def counting_checkpoint(df):
            calls[0] += 1
            return ckpt(df)

        def traced_lsh(*a, **k):
            with tr.span("operators.dedup.minhash_lsh_pairs"):
                out = tr.force(lsh(*a, **k))
            extra["candidate_pairs"] += out.count()
            extra["pairs_kept"] += out.filter(F.col("sig_sim") >= 0.5).count()
            return out

        def traced_clusters(*a, **k):
            before = calls[0]
            with tr.span("operators.graph.neardup_clusters"):
                out = tr.force(clusters(*a, **k))
            # connected_components checkpoints edges, nodes, one frame per
            # round and the result
            extra["cc_rounds"] += calls[0] - before - 3
            return out

        for mod, attr, fn in ((jc, "minhash_lsh_pairs", traced_lsh),
                              (jc, "neardup_clusters", traced_clusters),
                              (graph, "_checkpoint", counting_checkpoint)):
            tr._patched.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, fn)
    return extra
