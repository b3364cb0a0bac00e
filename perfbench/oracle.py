"""Independent expected outputs for the benchmark's correctness checks.

Every oracle here is computed on the driver with numpy/pandas from the
collected raw inputs, never by the engine code under test, so a wrong
answer from the engine shows up as a digest mismatch.  Digests are
order-independent: rows are sorted by key before their column bytes are
hashed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TIER_SECONDS = {"1h": 3600, "1d": 86400, "30d": 30 * 86400}
TIER_COLS = ["url", "b", "cnt", "sum_len", "min_len", "max_len", "sum_ts", "mean_len", "langs", "gap"]


def digest(pdf: pd.DataFrame, cols: list[str], keys: list[str]) -> str:
    """sha256 over the key-sorted column bytes of ``pdf``."""
    pdf = pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(str(len(pdf)).encode())
    for c in cols:
        col = pdf[c]
        if col.dtype == object:
            h.update("\x1f".join(map(str, col)).encode())
        else:
            h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
    return h.hexdigest()


def raw_columns(crawl):
    """The raw fields the tier oracle needs, as a Spark projection."""
    from pyspark.sql import functions as F

    return crawl.select(
        "url",
        F.unix_micros("warc_ts").alias("us"),
        F.unix_timestamp("warc_ts").alias("ep"),
        F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("tlen"),
        F.md5("text").alias("md5"),
        "lang",
    )


def tier_query(tier_df):
    """A stored tier as a flat frame, nulls mapped to sentinels so pandas
    keeps exact int64/float64 columns."""
    from pyspark.sql import functions as F

    return tier_df.select(
        "url",
        F.unix_timestamp("bucket_ts").alias("b"),
        "cnt",
        "sum_len",
        F.coalesce("min_len", F.lit(-1)).cast("long").alias("min_len"),
        F.coalesce("max_len", F.lit(-1)).cast("long").alias("max_len"),
        F.coalesce("sum_ts", F.lit(-1)).cast("long").alias("sum_ts"),
        F.coalesce("mean_len", F.lit(-1.0)).alias("mean_len"),
        F.coalesce(F.to_json("lang_dist"), F.lit("")).alias("langs"),
        F.col("gap_filled").alias("gap"),
    )


def tier_digest(tier_df) -> str:
    return digest(tier_query(tier_df).toPandas(), TIER_COLS, ["url", "b"])


def clean(raw: pd.DataFrame) -> pd.DataFrame:
    """series_clean: drop empty text, keep one row per (url, warc_ts) —
    the longest text, then the smallest md5."""
    raw = raw[raw["tlen"] > 0]
    raw = raw.assign(neg=-raw["tlen"]).sort_values(["url", "us", "neg", "md5"], kind="mergesort")
    return raw.drop_duplicates(["url", "us"], keep="first")


def tier(cleaned: pd.DataFrame, name: str) -> pd.DataFrame:
    """rollup/cascade + gap_fill of one tier, straight from clean rows."""
    secs = TIER_SECONDS[name]
    d = cleaned.assign(b=(cleaned["ep"] // secs) * secs)
    agg = (
        d.groupby(["url", "b"], sort=True)
        .agg(cnt=("tlen", "size"), sum_len=("tlen", "sum"), min_len=("tlen", "min"),
             max_len=("tlen", "max"), sum_ts=("ep", "sum"))
        .reset_index()
    )
    lc = d.groupby(["url", "b", "lang"], sort=True).size()
    langs: dict[tuple, list[str]] = {}
    for (u, b, lang), n in lc.items():
        langs.setdefault((u, b), []).append(f'"{lang}":{n}')
    agg["langs"] = ["{" + ",".join(langs[(u, b)]) + "}" for u, b in zip(agg["url"], agg["b"])]
    agg["mean_len"] = agg["sum_len"] / agg["cnt"]
    agg["gap"] = False
    gaps_u, gaps_b = [], []
    for u, g in agg.groupby("url", sort=False):
        bs = g["b"].to_numpy()
        for lo, hi in zip(bs[:-1], bs[1:]):
            if hi - lo > secs:
                fill = np.arange(lo + secs, hi, secs)
                gaps_b.append(fill)
                gaps_u.extend([u] * fill.size)
    gaps = pd.DataFrame({"url": gaps_u, "b": np.concatenate(gaps_b) if gaps_b else np.empty(0, np.int64)})
    gaps = gaps.assign(cnt=0, sum_len=0, min_len=-1, max_len=-1, sum_ts=-1, mean_len=-1.0, langs="", gap=True)
    out = pd.concat([agg[TIER_COLS], gaps[TIER_COLS]], ignore_index=True)
    for c in ("b", "cnt", "sum_len", "min_len", "max_len", "sum_ts"):
        out[c] = out[c].astype("int64")
    out["mean_len"] = out["mean_len"].astype("float64")
    out["gap"] = out["gap"].astype(bool)
    return out


def tier_digests(raw: pd.DataFrame, tiers: list[str]) -> dict[str, tuple[int, str]]:
    """Expected (row count, digest) of every gap-filled tier."""
    cleaned = clean(raw)
    out = {}
    for name in tiers:
        t = tier(cleaned, name)
        out[name] = (len(t), digest(t, TIER_COLS, ["url", "b"]))
    return out


def exact_dedup_survivors(texts: list[str]) -> int:
    """Exact dedup keeps one doc per distinct text.  Counted from the
    generated texts themselves, not from generate_webtext's planted layout:
    besides the planted copies (slot 7 of every block, the spam doc in slot
    6 of every third block), a 5%-mutated near-dup in slot 8 comes out with
    no word changed, and so as an exact copy, for a few seeds in a hundred."""
    return len(set(texts))
