"""Generic series operators (operators/series.py) — unit tests on tiny
in-memory frames; SQL-oracle parity is covered by __spark_entry__ +
tests/test_oracle.py at sf0.01."""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
import pytest

from yatsm_spark.operators.series import (
    asof_prev_event,
    cascade_series,
    gap_fill_series,
    locf_series,
    rollup_series,
    sessionize,
    top_k_keys,
)


@pytest.fixture(scope="module")
def series_df(spark):
    rows = [
        ("a", datetime(2024, 1, 1, 0, 10), 10.0),
        ("a", datetime(2024, 1, 1, 0, 50), 30.0),
        ("a", datetime(2024, 1, 1, 1, 5), 20.0),
        # gap: hours 2..3 missing
        ("a", datetime(2024, 1, 1, 4, 0), 40.0),
        ("b", datetime(2024, 1, 2, 12, 0), 5.0),
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")


def test_rollup_series_buckets(series_df):
    out = rollup_series(series_df, "1h", ("url",), "warc_ts", "v").collect()
    by_key = {(r["url"], r["bucket_ts"].isoformat()): r for r in out}
    r0 = by_key[("a", "2024-01-01T00:00:00")]
    assert r0["cnt"] == 2 and r0["sum_val"] == 40.0 and r0["mean_val"] == 20.0
    assert r0["min_val"] == 10.0 and r0["max_val"] == 30.0
    assert len(out) == 4


def test_cascade_exact(series_df):
    h1 = rollup_series(series_df, "1h", ("url",), "warc_ts", "v")
    d1 = cascade_series(h1, "1d", ("url",))
    direct = rollup_series(series_df, "1d", ("url",), "warc_ts", "v")
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, direct.collect()))


def test_gap_fill_and_locf(series_df):
    h1 = rollup_series(series_df, "1h", ("url",), "warc_ts", "v")
    filled = gap_fill_series(h1, "1h", ("url",))
    rows = filled.filter(F.col("url") == "a").orderBy("bucket_ts").collect()
    # hours 0,1,2,3,4 — complete grid between first and last bucket
    assert [r["bucket_ts"].hour for r in rows] == [0, 1, 2, 3, 4]
    assert [r["gap_filled"] for r in rows] == [False, False, True, True, False]
    assert all(r["cnt"] == 0 for r in rows if r["gap_filled"])
    locf = locf_series(filled, ("mean_val",), ("url",))
    vals = [r["mean_val_locf"] for r in locf.filter(F.col("url") == "a").orderBy("bucket_ts").collect()]
    assert vals == [20.0, 20.0, 20.0, 20.0, 40.0]


def test_sessionize_gap_rule(spark):
    rows = [
        ("u", datetime(2024, 1, 1, 0, 0)),
        ("u", datetime(2024, 1, 1, 0, 10)),
        ("u", datetime(2024, 1, 1, 2, 0)),  # > 30 min gap -> new session
        ("u", datetime(2024, 1, 1, 2, 20)),
        ("v", datetime(2024, 1, 1, 5, 0)),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp")
    out = sessionize(df, 1800, ("url",), "warc_ts").collect()
    u = sorted((r["warc_ts"], r["session_id"]) for r in out if r["url"] == "u")
    assert [s for _, s in u] == [1, 1, 2, 2]
    assert [r["session_id"] for r in out if r["url"] == "v"] == [1]


def test_asof_prev_event(spark):
    rows = [
        ("u", datetime(2024, 1, 1, 0, 0), "x"),
        ("u", datetime(2024, 1, 1, 1, 0), "hit"),
        ("u", datetime(2024, 1, 1, 2, 0), "x"),
        ("u", datetime(2024, 1, 1, 3, 0), "x"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, kind string")
    out = (
        asof_prev_event(df, F.col("kind") == "hit", ("url",), "warc_ts")
        .orderBy("warc_ts")
        .collect()
    )
    assert out[0]["asof_ts"] is None
    assert all(r["asof_ts"] == datetime(2024, 1, 1, 1, 0) for r in out[1:])


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",)], "url string"
    )
    out = top_k_keys(df, 2, ("url",)).collect()
    assert [(r["url"], r["cnt"]) for r in out] == [("a", 2), ("b", 2)]


def test_content_drift_hand_values(spark):
    """Identical re-crawl -> hamming 0 / no drift; rewritten text -> high
    hamming / drift; the first observation of a key emits no row."""
    from yatsm_spark.operators.series import content_drift

    rows = [
        ("a", 1, "the quick brown fox jumps over the lazy dog"),
        ("a", 2, "the quick brown fox jumps over the lazy dog"),  # identical
        ("a", 3, "completely different words about spark engines now"),
        ("b", 1, "single observation never pairs"),
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "text"])
    out = {
        (r.url, r.warc_ts): (r.hamming, r.drift)
        for r in content_drift(df, bits=32, threshold=6).collect()
    }
    assert set(out) == {("a", 2), ("a", 3)}  # no first-obs rows, none for b
    assert out[("a", 2)] == (0, 0)
    h3, d3 = out[("a", 3)]
    assert h3 >= 6 and d3 == 1


def test_content_drift_consecutive_suppresses_single_flap(spark):
    """K6-style baseline-anchored confirmation: with consecutive=2 a
    single-observation hash flap (transient error page) never flags —
    not even via its flap-out transition — while a sustained rewrite
    flags exactly once, at its first deviating observation."""
    from yatsm_spark.operators.series import content_drift

    base = "the quick brown fox jumps over the lazy dog again today"
    flap = "service unavailable error page returned by the origin server"
    new = "entirely rewritten article about distributed query engines now"
    rows = [
        ("a", 1, base),
        ("a", 2, flap),   # flap in  (transition exceeds)
        ("a", 3, base),   # flap out (transition exceeds) — content is BACK
        ("a", 4, base),
        ("b", 1, base),
        ("b", 2, new),    # sustained rewrite starts
        ("b", 3, new),
        ("b", 4, new),
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "text"])
    # consecutive=1 (plain lag rule): the flap DOES flag twice — the
    # false-positive mode the run-length rule exists to kill
    d1 = {
        (r.url, r.warc_ts): r.drift
        for r in content_drift(df, threshold=6, consecutive=1).collect()
    }
    assert d1[("a", 2)] == 1 and d1[("a", 3)] == 1
    # consecutive=2: the flap deviates from its baseline for only ONE
    # obs (obs 3 is back at hamming 0 from baseline), so NOTHING on
    # series a flags; series b confirms once, at the break start
    d2 = {
        (r.url, r.warc_ts): r.drift
        for r in content_drift(df, threshold=6, consecutive=2).collect()
    }
    assert [t for (u, t), d in d2.items() if u == "a" and d] == []
    assert [t for (u, t), d in sorted(d2.items()) if u == "b" and d] == [2]
    # unconfirmable tail: a break starting at the LAST obs cannot confirm
    tail = spark.createDataFrame(
        [("c", 1, base), ("c", 2, base), ("c", 3, new)],
        ["url", "warc_ts", "text"],
    )
    dt = {
        r.warc_ts: r.drift
        for r in content_drift(tail, threshold=6, consecutive=2).collect()
    }
    assert dt[3] == 0


def test_counter_increase_resets_and_buckets(spark):
    """Hand-derived Prometheus increase() semantics: positive deltas sum,
    a drop is a reset (contributes the post-reset reading), a key's first
    observation contributes 0, buckets split on the hour."""
    from yatsm_spark.operators.series import counter_increase

    rows = [
        ("a", datetime(2024, 1, 1, 0, 0), 1, 10.0),
        ("a", datetime(2024, 1, 1, 0, 20), 2, 12.5),   # +2.5
        ("a", datetime(2024, 1, 1, 0, 40), 3, 3.0),    # reset -> +3.0
        ("a", datetime(2024, 1, 1, 0, 50), 4, 4.0),    # +1.0
        ("a", datetime(2024, 1, 1, 1, 10), 5, 6.0),    # next bucket, +2.0
        ("b", datetime(2024, 1, 1, 0, 5), 6, 100.0),   # first obs -> 0
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, value double"
    )
    out = {
        (r["user_id"], r["bucket_ts"].isoformat()): r
        for r in counter_increase(
            df, "1h", key_col="user_id", order_tiebreak="event_id"
        ).collect()
    }
    a0 = out[("a", "2024-01-01T00:00:00")]
    assert a0["increase_u"] == 6_500_000  # 0 + 2.5 + 3.0 + 1.0
    assert a0["n_obs"] == 4 and a0["n_resets"] == 1
    a1 = out[("a", "2024-01-01T01:00:00")]
    assert a1["increase_u"] == 2_000_000 and a1["n_resets"] == 0
    b0 = out[("b", "2024-01-01T00:00:00")]
    assert b0["increase_u"] == 0 and b0["n_obs"] == 1 and b0["n_resets"] == 0


def test_counter_increase_tiebreak_total_order(spark):
    """Colliding timestamps: the explicit tiebreak column makes the lag
    order total, so the result is run-invariant (and hand-checkable)."""
    from yatsm_spark.operators.series import counter_increase

    ts = datetime(2024, 1, 1, 0, 30)
    rows = [("a", ts, 2, 5.0), ("a", ts, 1, 7.0)]  # event 1 BEFORE event 2
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, value double"
    )
    out = counter_increase(
        df, "1h", key_col="user_id", order_tiebreak="event_id"
    ).collect()
    assert len(out) == 1
    # order by (ts, event_id): 7.0 then 5.0 -> reset, contributes 5.0
    assert out[0]["increase_u"] == 5_000_000 and out[0]["n_resets"] == 1


def test_interpolate_series_hand_values(spark):
    # key "a": observed buckets at hours 0 (v=10.0) and 4 (v=30.0); gap-fill
    # materializes hours 1..3; linear blend in x1e4 units:
    #   hour h -> 100000 + (300000-100000)*h/4 = 100000 + 50000*h
    from yatsm_spark.operators.series import interpolate_series

    rows = [
        ("a", datetime(2024, 1, 1, 0, 10), 10.0),
        ("a", datetime(2024, 1, 1, 4, 30), 30.0),
        ("b", datetime(2024, 1, 1, 9, 0), 7.0),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    tier = rollup_series(df, "1h", ("url",), "warc_ts", "v")
    filled = gap_fill_series(tier, "1h", ("url",))
    out = interpolate_series(filled, "mean_val", ("url",)).collect()
    got = {
        (r["url"], r["bucket_ts"].hour): r["mean_val_interp_u"] for r in out
    }
    assert got[("a", 0)] == 100000
    assert got[("a", 1)] == 150000
    assert got[("a", 2)] == 200000
    assert got[("a", 3)] == 250000
    assert got[("a", 4)] == 300000
    assert got[("b", 9)] == 70000
    assert len(out) == 6


def test_interpolate_floor_exact_uneven_gap(spark):
    # 3-bucket gap between v=0 and v=1: exact thirds floor to 3333/6666 in
    # x1e4 units — pins the pmod floor algebra (a double blend would give
    # 3333.33.. and round differently per engine).
    from yatsm_spark.operators.series import interpolate_series

    rows = [
        ("a", datetime(2024, 1, 1, 0, 0), 0.0),
        ("a", datetime(2024, 1, 1, 3, 0), 1.0),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    tier = rollup_series(df, "1h", ("url",), "warc_ts", "v")
    filled = gap_fill_series(tier, "1h", ("url",))
    out = interpolate_series(filled, "mean_val", ("url",)).collect()
    got = {r["bucket_ts"].hour: r["mean_val_interp_u"] for r in out}
    assert got == {0: 0, 1: 3333, 2: 6666, 3: 10000}


def test_interpolate_edge_gaps_stay_null(spark):
    # gap_fill only materializes INTERIOR buckets, so edge-gap NULLs can
    # only come from null observed values at the series boundary.
    from yatsm_spark.operators.series import interpolate_series

    rows = [
        ("a", datetime(2024, 1, 1, 0, 0), None),
        ("a", datetime(2024, 1, 1, 1, 0), 5.0),
        ("a", datetime(2024, 1, 1, 2, 0), None),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    tier = rollup_series(df, "1h", ("url",), "warc_ts", "v")
    filled = gap_fill_series(tier, "1h", ("url",))
    out = interpolate_series(filled, "mean_val", ("url",)).collect()
    got = {r["bucket_ts"].hour: r["mean_val_interp_u"] for r in out}
    assert got == {0: None, 1: 50000, 2: None}


def test_m4_downsample_points_and_ties(spark):
    from yatsm_spark.operators.series import m4_downsample

    rows = [
        # one daily bucket; min value 1.0 occurs TWICE (ties -> earliest ts)
        ("a", datetime(2024, 1, 1, 1, 0), 5.0),
        ("a", datetime(2024, 1, 1, 2, 0), 1.0),
        ("a", datetime(2024, 1, 1, 3, 0), 9.0),
        ("a", datetime(2024, 1, 1, 4, 0), 1.0),
        ("a", datetime(2024, 1, 1, 5, 0), 4.0),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, v double")
    [r] = m4_downsample(df, "1d", ("url",), "warc_ts", "v").collect()
    assert (r["t_first"].hour, r["v_first"]) == (1, 5.0)
    assert (r["t_min"].hour, r["v_min"]) == (2, 1.0)  # earliest of the two 1.0s
    assert (r["t_max"].hour, r["v_max"]) == (3, 9.0)
    assert (r["t_last"].hour, r["v_last"]) == (5, 4.0)
    assert r["cnt"] == 5


def test_anomaly_zscore_hand_values(spark):
    from datetime import datetime, timedelta

    from yatsm_spark.operators.series import anomaly_zscore

    t0 = datetime(2024, 1, 1)
    # 8 flat obs (value 10) then a spike: baseline var 0 -> any deviation
    # flags; the 10th obs equals the baseline mean -> no flag
    rows = [(1, t0 + timedelta(hours=i), 10.0) for i in range(8)]
    rows += [(1, t0 + timedelta(hours=8), 50.0), (1, t0 + timedelta(hours=9), 10.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        r["ts"]: r for r in anomaly_zscore(df, window=8, min_obs=8, k=3).collect()
    }
    assert out[t0 + timedelta(hours=8)]["is_anom"] == 1  # zero-var spike
    assert out[t0 + timedelta(hours=7)]["is_anom"] == 0  # short baseline
    # 10th: baseline holds the spike -> mean 15, sd ~ 14.1; |10-15| << 3sd
    assert out[t0 + timedelta(hours=9)]["is_anom"] == 0
    assert out[t0]["n_win"] == 0


def test_ewma_dyadic_recursion_exact(spark):
    from datetime import datetime, timedelta

    from yatsm_spark.operators.series import ewma_series

    t0 = datetime(2024, 1, 1)
    vals = [100.0, 0.0, 40.0, 40.0, 1.0]
    rows = [(7, t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = [
        r["ewma_u"]
        for r in ewma_series(df, alpha_num=1, alpha_shift=2, scale=1)
        .orderBy("ts")
        .collect()
    ]
    # s1=100; s2=100+((0-100)>>2)=100-25=75; s3=75+((40-75)>>2)=75-9=66
    # (floor: -35>>2 = -9 in arithmetic shift... -35//4 = -9) -> 66
    # s4=66+((40-66)>>2)=66+(-26//4)=66-7=59; s5=59+((1-59)>>2)=59-15=44
    assert got == [100, 75, 66, 59, 44]


def test_ewma_batch_boundary_carryover(spark):
    """A key whose rows span Arrow batches must recurse as ONE series."""
    from datetime import datetime, timedelta

    from yatsm_spark.operators.series import ewma_series

    t0 = datetime(2024, 1, 1)
    n = 500
    rows = [(1, t0 + timedelta(minutes=i), float(i % 17)) for i in range(n)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = [
            r["ewma_u"]
            for r in ewma_series(df, scale=1).orderBy("ts").collect()
        ]
    finally:
        if small is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)
    # python mirror: int // is floor division = the arithmetic shift
    s = None
    exp = []
    for i in range(n):
        x = i % 17
        s = x if s is None else s + ((x - s) * 1) // 4
        exp.append(s)
    assert got == exp


def test_time_weighted_avg_hand_values(spark):
    """LOCF integral by hand: bursts must NOT over-weight the mean."""
    from datetime import datetime

    from yatsm_spark.operators.series import time_weighted_avg

    rows = [
        # user 1, hour 00: v=10 for 30min then v=20 for 30min -> twa 15.0;
        # a plain mean of the OBS would also be 15 here, so add a burst:
        # three rapid 20s in the last half hour must not tilt the integral.
        (1, datetime(2024, 1, 1, 0, 0), 10.0),
        (1, datetime(2024, 1, 1, 0, 30), 20.0),
        (1, datetime(2024, 1, 1, 0, 40), 20.0),
        (1, datetime(2024, 1, 1, 0, 50), 20.0),
        # user 2: next obs lands in the NEXT bucket -> dt caps at the
        # bucket end (10 min), and bucket 1 coverage starts at 01:10.
        (2, datetime(2024, 1, 1, 0, 50), 4.0),
        (2, datetime(2024, 1, 1, 1, 10), 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r["user_id"], r["bucket_ts"].hour): r
        for r in time_weighted_avg(df, "1h").collect()
    }
    r1 = out[(1, 0)]
    # integral: 10*30min + 20*30min over 60min covered -> 15.0
    assert r1["twa_u"] == 15_000_000
    assert r1["covered_us"] == 3_600_000_000
    assert r1["n_obs"] == 4
    r2a, r2b = out[(2, 0)], out[(2, 1)]
    assert r2a["twa_u"] == 4_000_000 and r2a["covered_us"] == 600_000_000
    assert r2b["twa_u"] == 8_000_000 and r2b["covered_us"] == 3_000_000_000


def test_time_weighted_avg_floor_and_partial_coverage(spark):
    from datetime import datetime

    from yatsm_spark.operators.series import time_weighted_avg

    rows = [
        # 20min at 1.0 then 40min at 2.0 -> (1*20+2*40)/60 = 5/3 -> floor
        (9, datetime(2024, 1, 1, 5, 0), 1.0),
        (9, datetime(2024, 1, 1, 5, 20), 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    [r] = time_weighted_avg(df, "1h").collect()
    assert r["twa_u"] == 1_666_666  # floor(5e6/3)
    assert r["n_obs"] == 2


def test_state_durations_hand_values(spark):
    """duration_in by hand: LOCF state hold, capped at bucket end."""
    from datetime import datetime

    from yatsm_spark.operators.series import state_durations

    rows = [
        # user 1, hour 00: 'up' for 30min, 'down' 15min, 'up' to bucket end
        (1, datetime(2024, 1, 1, 0, 0), "up"),
        (1, datetime(2024, 1, 1, 0, 30), "down"),
        (1, datetime(2024, 1, 1, 0, 45), "up"),
        # user 2: next obs in NEXT bucket -> dt caps at bucket end
        (2, datetime(2024, 1, 1, 0, 50), "idle"),
        (2, datetime(2024, 1, 1, 1, 10), "busy"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        (r["user_id"], r["bucket_ts"].hour, r["state"]): r
        for r in state_durations(df, "1h").collect()
    }
    m = 60_000_000
    assert out[(1, 0, "up")]["dur_us"] == 45 * m
    assert out[(1, 0, "up")]["n_obs"] == 2
    assert out[(1, 0, "down")]["dur_us"] == 15 * m
    assert out[(2, 0, "idle")]["dur_us"] == 10 * m
    assert out[(2, 1, "busy")]["dur_us"] == 50 * m


def test_heartbeat_uptime_hand_values(spark):
    """Interval-union uptime: overlapping beats merge, gaps past the
    liveness window count as dead air inside covered time."""
    from datetime import datetime

    from yatsm_spark.operators.series import heartbeat_uptime

    rows = [
        # user 1, hour 00, liveness 10min:
        # beats at :00 and :05 overlap (union 15min), then silence until
        # :40 (dead :15-:40 = 25min), beat at :40 runs to :50, then dead
        # to bucket end -> up = 15+10 = 25min, covered = 60min, gap 35min
        (1, datetime(2024, 1, 1, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 5)),
        (1, datetime(2024, 1, 1, 0, 40)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    [r] = heartbeat_uptime(df, "1h", liveness_us=600_000_000).collect()
    m = 60_000_000
    assert r["up_us"] == 25 * m
    assert r["gap_us"] == 35 * m
    assert r["n_beats"] == 3


def test_heartbeat_uptime_caps_at_bucket_end(spark):
    from datetime import datetime

    from yatsm_spark.operators.series import heartbeat_uptime

    # beat at :55 with 10min liveness -> only 5min counts in this bucket
    df = spark.createDataFrame(
        [(7, datetime(2024, 1, 1, 3, 55))], "user_id long, ts timestamp"
    )
    [r] = heartbeat_uptime(df, "1h", liveness_us=600_000_000).collect()
    assert r["up_us"] == 5 * 60_000_000
    assert r["gap_us"] == 0


def test_funnel_hand_values(spark):
    from datetime import datetime

    from yatsm_spark.operators.series import funnel

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 completes in order (with noise events between)
        (1, t(0), "view"), (1, t(1), "error"), (1, t(2), "click"),
        (1, t(3), "view"), (1, t(4), "purchase"),
        # u2: click BEFORE the first view never counts; no purchase
        (2, t(0), "click"), (2, t(1), "view"), (2, t(5), "click"),
        # u3: purchase before click -> stuck at step 1's view only
        (3, t(0), "view"), (3, t(1), "purchase"),
        # u4: never views -> no row at all
        (4, t(0), "click"), (4, t(1), "purchase"),
        # u5: simultaneous view+click at t0 -> strict > rejects the
        # same-ts click; a later click advances
        (5, t(0), "view"), (5, t(0), "click"), (5, t(2), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"], r["steps_completed"])
        for r in funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert set(out) == {1, 2, 3, 5}
    assert out[1] == (t(0), t(2), t(4), 3)
    assert out[2] == (t(1), t(5), None, 2)
    assert out[3] == (t(0), None, None, 1)
    assert out[5] == (t(0), t(2), None, 2)


def test_funnel_max_span(spark):
    from datetime import datetime

    from yatsm_spark.operators.series import funnel

    t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [(1, t(0), "a"), (1, t(2), "b"), (1, t(30), "c"),
            (2, t(0), "a"), (2, t(2), "b"), (2, t(4), "c")]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: r["steps_completed"]
        for r in funnel(df, ["a", "b", "c"], max_span_seconds=600).collect()
    }
    # u1's c at +30min falls outside the 10-min span from t1; u2 completes
    assert out == {1: 2, 2: 3}


def test_cohort_retention_hand_values(spark):
    from datetime import datetime

    from yatsm_spark.operators.series import cohort_retention

    d = lambda day, h=0: datetime(2024, 1, day, h)  # noqa: E731
    rows = [
        # cohort day1: users 1,2; u1 returns day2 and day3, u2 only day3
        (1, d(1)), (1, d(1, 5)), (1, d(2)), (1, d(3)),
        (2, d(1)), (2, d(3)),
        # cohort day2: user 3, returns day3
        (3, d(2)), (3, d(3)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["cohort_ts"], r["offset"]): r["n_active"]
        for r in cohort_retention(df).collect()
    }
    assert out == {
        (d(1), 0): 2, (d(1), 1): 1, (d(1), 2): 2,
        (d(2), 0): 1, (d(2), 1): 1,
    }


def test_interval_overlap_join_hand_values(spark):
    from datetime import datetime

    from yatsm_spark.operators.series import interval_overlap_join

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)  # noqa: E731
    pts = spark.createDataFrame(
        [(1, 10, t(1, 30)), (1, 11, t(2, 0)), (2, 12, t(1, 30)), (1, 13, t(5, 0))],
        "user_id long, point_id long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        # iv100 spans 3 bins; iv101 other user; end boundary EXCLUSIVE
        [(1, 100, t(1, 0), t(3, 30)), (2, 101, t(1, 0), t(1, 45)),
         (1, 102, t(4, 0), t(5, 0))],
        "user_id long, iv_id long, start_ts timestamp, end_ts timestamp",
    )
    out = {
        (r["point_id"], r["iv_id"])
        for r in interval_overlap_join(
            pts, ivs, ts_col="ts", key_cols=("user_id",), bin_seconds=3600
        ).collect()
    }
    # point 13 at 5:00 is NOT in [4:00, 5:00) — end exclusive
    assert out == {(10, 100), (11, 100), (12, 101)}
    # left join preserves the unmatched point with null interval cols
    left = interval_overlap_join(
        pts, ivs, ts_col="ts", key_cols=("user_id",), bin_seconds=3600, how="left"
    )
    rows = {(r["point_id"], r["iv_id"]) for r in left.collect()}
    assert rows == {(10, 100), (11, 100), (12, 101), (13, None)}


def test_interval_overlap_join_guard_raises(spark):
    from datetime import datetime

    from pyspark.errors import PySparkException

    from yatsm_spark.operators.series import interval_overlap_join

    pts = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 1))], "user_id long, ts timestamp"
    )
    ivs = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 3, 1))],
        "user_id long, start_ts timestamp, end_ts timestamp",
    )
    with pytest.raises(PySparkException):
        interval_overlap_join(
            pts, ivs, key_cols=("user_id",), bin_seconds=3600,
            max_bins_per_interval=100,
        ).collect()


def test_interval_overlap_join_plan_is_equi_join(spark):
    """Scale contract: the binned form must plan a hash/sort-merge
    equi-join on (key, bin) — never a nested-loop range join."""
    from datetime import datetime

    from yatsm_spark.operators.series import interval_overlap_join

    pts = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 1))], "user_id long, ts timestamp"
    )
    ivs = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 1, 1, 2))],
        "user_id long, start_ts timestamp, end_ts timestamp",
    )
    plan = (
        interval_overlap_join(pts, ivs, key_cols=("user_id",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_plan_is_single_shuffle_no_fold(spark):
    """Scale contract for the funnel rewrite: ONE Exchange (the groupBy)
    and the chained first-match form (array_min over filtered per-step
    arrays) — never the per-event aggregate() fold whose accumulator
    array was rebuilt per element (measured anti-scaling with threads:
    16M events ran ~10s on local[8] but 21-29s on local[32])."""
    from datetime import datetime

    from yatsm_spark.operators.series import funnel

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    q = funnel(df, ["view", "click", "purchase"], max_span_seconds=3600)
    qe = q._jdf.queryExecution()
    phys = qe.executedPlan().toString()
    assert phys.count("Exchange") == 1
    optimized = qe.optimizedPlan().toString()
    assert "array_min(filter(" in optimized
    assert "aggregate(" not in optimized


def test_hampel_hand_values_and_robustness(spark):
    """The Hampel flag catches a spike the z-score MISSES when a prior
    outlier sits in the baseline (masking) — the reason the robust
    variant exists — and the median/MAD arithmetic is pinned by hand."""
    from datetime import datetime, timedelta

    from yatsm_spark.operators.series import anomaly_zscore, hampel_flags

    t0 = datetime(2024, 1, 1)
    # 9 flat obs at 10, one huge outlier (1000), then a modest spike 40.
    vals = [10.0] * 9 + [1000.0, 40.0]
    rows = [(1, t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    h = {r["ts"]: r for r in
         hampel_flags(df, window=10, min_obs=8, k=3).collect()}
    z = {r["ts"]: r for r in
         anomaly_zscore(df, window=10, min_obs=8, k=3).collect()}
    t_spike = t0 + timedelta(hours=10)
    # baseline for the spike holds the 1000: median 10, MAD 0 -> hampel
    # flags (|40-10| > 0); the z-score baseline has sd ~ 313 -> missed.
    assert h[t_spike]["is_anom"] == 1
    assert z[t_spike]["is_anom"] == 0
    # the outlier itself flags under both
    t_out = t0 + timedelta(hours=9)
    assert h[t_out]["is_anom"] == 1 and z[t_out]["is_anom"] == 1
    # short baseline -> no flag; empty window -> n_win 0, no error
    assert h[t0 + timedelta(hours=5)]["is_anom"] == 0
    assert h[t0]["n_win"] == 0 and h[t0]["is_anom"] == 0


def test_hampel_lower_median_even_window(spark):
    """Even-sized baseline uses the LOWER median (no fractional mean):
    window [10, 20] -> med 10, devs [0, 10] -> MAD 0; x=31 flags
    (|31-10| > 3*0) while x=10 does not."""
    from datetime import datetime, timedelta

    from yatsm_spark.operators.series import hampel_flags

    t0 = datetime(2024, 1, 1)
    rows = [(1, t0, 10.0), (1, t0 + timedelta(hours=1), 20.0),
            (1, t0 + timedelta(hours=2), 31.0)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {r["ts"]: r for r in
           hampel_flags(df, window=4, min_obs=2, k=3).collect()}
    r = out[t0 + timedelta(hours=2)]
    assert r["n_win"] == 2 and r["is_anom"] == 1


def test_rolling_active_hand_values(spark):
    """WAU counts each user ONCE per trailing window however many days
    they were active; observed-days-only output."""
    from datetime import datetime, timedelta

    from yatsm_spark.operators.series import rolling_active

    t0 = datetime(2024, 1, 1)
    rows = []
    # user 1 active days 0,1,2; user 2 active day 0 only; user 3 day 9
    for d in (0, 1, 2):
        rows.append((1, t0 + timedelta(days=d, hours=5), 1.0))
    rows.append((2, t0 + timedelta(hours=6), 1.0))
    rows.append((3, t0 + timedelta(days=9), 1.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {r["bucket_ts"]: r for r in rolling_active(df, days=7).collect()}
    assert set(out) == {t0, t0 + timedelta(days=1), t0 + timedelta(days=2),
                        t0 + timedelta(days=9)}
    assert out[t0]["active_1d"] == 2 and out[t0]["active_7d"] == 2
    # day 2: users 1 (multi-day, counted once) + 2 (still in window)
    assert out[t0 + timedelta(days=2)]["active_1d"] == 1
    assert out[t0 + timedelta(days=2)]["active_7d"] == 2
    # day 9: window [3..9] holds only user 3
    assert out[t0 + timedelta(days=9)]["active_7d"] == 1
