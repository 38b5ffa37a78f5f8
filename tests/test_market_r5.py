"""Fixture-level semantics for the r5 market/sketch additions: EWMA
weights against a straight-line Python spec, Bollinger variance against
numpy, hub-spread pairing, the CMS overestimate invariant, and the
stream-stream interval join's time bound + batch parity."""

from __future__ import annotations

import pytest

import datetime as dt
import math
import tempfile

import numpy as np

from pyspark.sql import functions as F

from kafka_flink_processing_spark.plans.analytics import (
    _CMS_W,
    cms_freq_estimate_q,
)
from kafka_flink_processing_spark.plans.market import (
    _BB_N,
    da_rt_daily_corr_q,
    _EWMA_N,
    _SLIPPAGE_TOL_S,
    bollinger_bands_q,
    ewma_price_q,
    hub_spread_hourly_q,
    streaming_slippage_join_q,
)
from tests.test_market import SEC, T0, _event_table

SF = "/root/testdata/sf0.001"


def _ewma_spec(prices: list[float], n: int = _EWMA_N,
               alpha: float = 0.5) -> list[float]:
    """Straight-line bounded-frame EWMA: normalized weights
    (1-alpha)^(L-1-i) over the trailing <=n prices (most recent heaviest).
    Real-arithmetic spec — the engine's fixed-point form must agree to
    well inside the 1e-8 term-rounding floor."""
    out = []
    for t in range(len(prices)):
        frame = prices[max(0, t - n + 1): t + 1]
        ws = [(1 - alpha) ** (len(frame) - 1 - i) for i in range(len(frame))]
        out.append(sum(w * x for w, x in zip(ws, frame)) / sum(ws))
    return out


def test_ewma_matches_python_spec(spark):
    # 40 ticks on one hub: exercises both the warm-up (frame < 32) and
    # the saturated frame, including the frame dropping the oldest tick
    prices = [100.0 + 7.0 * math.sin(i / 3.0) + (i % 5) for i in range(40)]
    rows = [(i, 0, i * 10 * SEC, "view", p) for i, p in enumerate(prices)]
    with tempfile.TemporaryDirectory(prefix="kfps_ewma_") as td:
        _event_table(spark, td, rows)
        got = {r.tick_id: r.ewma
               for r in ewma_price_q(spark, td).collect()}
    want = _ewma_spec(prices)
    assert len(got) == len(prices)
    for i, w in enumerate(want):
        assert abs(got[i] - w) < 1e-6, (i, got[i], w)


def test_ewma_weights_recent_ticks_heavier(spark):
    # constant 100 then a jump to 200: EWMA must sit above the midpoint
    # immediately after the jump (alpha=0.5 puts half the mass on the
    # newest tick) while an SMA over the same frame would not
    rows = [(i, 0, i * 10 * SEC, "view", 100.0) for i in range(32)]
    rows.append((32, 0, 32 * 10 * SEC, "view", 200.0))
    with tempfile.TemporaryDirectory(prefix="kfps_ewmaj_") as td:
        _event_table(spark, td, rows)
        got = {r.tick_id: r.ewma for r in ewma_price_q(spark, td).collect()}
    # (1e-7, not exact: each scaled-int term rounds at 1e-8, and ~20
    # half-up roundings on 100 * 2^-k terms accumulate a few 1e-8)
    assert abs(got[31] - 100.0) < 1e-7
    assert got[32] > 149.0  # ~150: half the mass on the jump tick


def test_bollinger_matches_numpy(spark):
    prices = [round(50.0 + 10.0 * math.sin(i / 4.0), 2) for i in range(30)]
    rows = [(i, 0, i * 10 * SEC, "view", p) for i, p in enumerate(prices)]
    with tempfile.TemporaryDirectory(prefix="kfps_bb_") as td:
        _event_table(spark, td, rows)
        out = {r.tick_id: r for r in bollinger_bands_q(spark, td).collect()}
    # warm-up rows (frame < 20) are dropped
    assert sorted(out) == list(range(_BB_N - 1, 30))
    for t in range(_BB_N - 1, 30):
        frame = np.array(prices[t - _BB_N + 1: t + 1])
        mid, sd = frame.mean(), frame.std(ddof=1)
        r = out[t]
        assert abs(r.mid_band - mid) < 1e-6
        assert abs(r.sd - sd) < 1e-4  # 2dp fixed-point floor on S2
        assert abs(r.upper_band - (r.mid_band + 2 * r.sd)) < 1e-12
        assert abs(r.lower_band - (r.mid_band - 2 * r.sd)) < 1e-12


def test_bollinger_constant_price_sd_zero(spark):
    # the GREATEST(.., 0) guard: constant prices must give sd exactly 0,
    # never NaN from a rounding-negative variance
    rows = [(i, 0, i * SEC, "view", 123.45) for i in range(25)]
    with tempfile.TemporaryDirectory(prefix="kfps_bbc_") as td:
        _event_table(spark, td, rows)
        out = bollinger_bands_q(spark, td).collect()
    assert out and all(r.sd == 0.0 and r.upper_band == r.lower_band
                       for r in out)


def test_hub_spread_pairs_and_sign(spark):
    # two hubs, one hour: exactly one (hub_a < hub_b) pair, spread =
    # avg(HUB0) - avg(HUB1)
    rows = [
        (1, 0, 0, "view", 100.0), (2, 0, 10 * SEC, "view", 110.0),  # HUB0
        (3, 1, 0, "view", 90.0), (4, 1, 10 * SEC, "view", 95.0),    # HUB1
    ]
    with tempfile.TemporaryDirectory(prefix="kfps_spread_") as td:
        _event_table(spark, td, rows)
        out = hub_spread_hourly_q(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.hub_a, r.hub_b) == ("HUB0", "HUB1")
    assert r.price_a == 105.0 and r.price_b == 92.5
    assert r.spread == 12.5
    assert r.n_ticks_a == 2 and r.n_ticks_b == 2


def test_cms_never_underestimates(spark):
    sf_dir = SF
    out = cms_freq_estimate_q(spark, sf_dir).collect()
    assert out, "probe set must be non-empty"
    total = sum(r.exact_n for r in out)  # lower bound on stream size N
    for r in out:
        assert r.cms_n >= r.exact_n          # CMS error is one-sided
        assert r.overestimate == r.cms_n - r.exact_n
    # Markov bound sanity at d=4: every estimate within N additive error
    # would be astronomically unlucky to fail; use the loose per-row cap
    # err <= N (true N >= probe total) scaled by the 2/w factor x slack 8
    n_stream = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    cap = max(1, int(8 * 2 * n_stream / _CMS_W))
    bad = [r for r in out if r.overestimate > cap]
    assert not bad, (cap, bad)
    assert total <= n_stream


@pytest.mark.slow  # heavyweight (see pytest.ini tiers)
def test_slippage_join_matches_batch_and_time_bound(spark):
    sf_dir = SF
    out = streaming_slippage_join_q(spark, sf_dir)
    rows = out.collect()
    assert rows
    tol = dt.timedelta(seconds=_SLIPPAGE_TOL_S)
    for r in rows:
        assert r.tick_ts <= r.trade_ts          # tick at or before trade
        assert r.trade_ts - r.tick_ts <= tol    # within tolerance
        assert abs(r.slippage - (r.trade_price - r.tick_price)) < 1e-12
    # batch parity: the same interval join as plain DataFrame algebra
    from kafka_flink_processing_spark.sources.events_market import (
        derive_market,
    )
    trades, prices = derive_market(spark, sf_dir)
    p = prices.select(
        "tick_id", F.col("ts").alias("tick_ts"),
        F.col("hub").alias("tick_hub"), F.col("price_mwh"))
    t = trades.select(
        "trade_id", F.col("ts").alias("trade_ts"), "hub")
    cond = ((F.col("hub") == F.col("tick_hub"))
            & (F.col("tick_ts") <= F.col("trade_ts"))
            & (F.col("tick_ts") >= F.col("trade_ts")
               - F.expr(f"INTERVAL {_SLIPPAGE_TOL_S} SECONDS")))
    batch = {(r.trade_id, r.tick_id) for r in t.join(p, cond).collect()}
    assert {(r.trade_id, r.tick_id) for r in rows} == batch


def test_da_rt_corr_matches_numpy(spark):
    # one hub, two days: day 1 has DA tracking RT (positive corr), day 2
    # has DA moving against RT (negative corr); an hour with only one
    # side present must not enter the pairing
    rt, da = [], []
    HOUR = 3600 * SEC
    for h in range(6):  # day 1: y = x
        rt.append((100 + h, 0, h * HOUR, "view", 50.0 + h))
        da.append((200 + h, 0, h * HOUR + SEC, "signup", 10.0 + 2 * h))
    for h in range(6):  # day 2: y = -x
        off = 24 * HOUR + h * HOUR
        rt.append((300 + h, 0, off, "view", 50.0 + h))
        da.append((400 + h, 0, off + SEC, "signup", 30.0 - 2 * h))
    # unpaired hours: RT-only and DA-only (must be excluded)
    rt.append((500, 0, 10 * HOUR, "view", 99.0))
    da.append((501, 0, 11 * HOUR, "signup", 77.0))
    with tempfile.TemporaryDirectory(prefix="kfps_corr_") as td:
        _event_table(spark, td, rt + da)
        out = {r.day.day: r for r in
               da_rt_daily_corr_q(spark, td).collect()}
    assert sorted(out) == [1, 2]
    assert out[1].n_hours == 6 and out[2].n_hours == 6
    assert abs(out[1].corr_da_rt - 1.0) < 1e-6
    assert abs(out[2].corr_da_rt - (-1.0)) < 1e-6


def test_da_rt_corr_degenerate_days_null(spark):
    # constant DA side (zero variance) and a single paired hour: both NULL
    HOUR = 3600 * SEC
    rows = [
        # day 1: 3 paired hours, DA constant
        (1, 0, 0 * HOUR, "view", 10.0), (2, 0, 0 * HOUR, "signup", 5.0),
        (3, 0, 1 * HOUR, "view", 20.0), (4, 0, 1 * HOUR, "signup", 5.0),
        (5, 0, 2 * HOUR, "view", 30.0), (6, 0, 2 * HOUR, "signup", 5.0),
        # day 2: a single paired hour
        (7, 0, 24 * HOUR, "view", 10.0), (8, 0, 24 * HOUR, "signup", 9.0),
    ]
    with tempfile.TemporaryDirectory(prefix="kfps_corrd_") as td:
        _event_table(spark, td, rows)
        out = {r.day.day: r for r in
               da_rt_daily_corr_q(spark, td).collect()}
    assert out[1].corr_da_rt is None   # constant side
    assert out[2].corr_da_rt is None   # n_hours < 2


def test_mad_outliers_match_python(spark):
    # one event type, a stable band of counts with one huge spike and one
    # zero-outage hour; verify exact median/MAD and the flag rule against
    # a straight-line Python computation over the SAME dense grid
    import statistics

    from kafka_flink_processing_spark.plans.analytics import (
        event_rate_mad_outliers_q,
    )
    HOUR = 3600 * SEC
    counts = [5, 6, 5, 7, 6, 5, 80, 6, 5, 7]  # hour 6 spikes; no gap yet
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        for k in range(c):
            rows.append((eid, 0, h * HOUR + k * SEC, "view", 1.0))
            eid += 1
    # hour 10 empty (gap), hour 11 has 6 events -> grid fills hour 10 = 0
    for k in range(6):
        rows.append((eid, 0, 11 * HOUR + k * SEC, "view", 1.0))
        eid += 1
    with tempfile.TemporaryDirectory(prefix="kfps_mad_") as td:
        _event_table(spark, td, rows)
        out = {int((r.hour - T0).total_seconds() // 3600): r for r in
               event_rate_mad_outliers_q(spark, td).collect()}
    grid = counts + [0, 6]
    med = statistics.median(grid)
    mad = statistics.median(sorted(abs(c - med) for c in grid))
    assert sorted(out) == list(range(12))
    for h, c in enumerate(grid):
        r = out[h]
        assert r.n_events == c
        assert r.median_rate == med
        assert r.mad == mad
        assert r.is_outlier == (abs(c - med) > 3 * 1.4826 * mad), (h, c)
    assert out[6].is_outlier           # the spike
    assert not out[0].is_outlier


def test_mad_zero_flags_any_deviation(spark):
    # >half the hours share one count -> MAD = 0: any deviating hour flags
    from kafka_flink_processing_spark.plans.analytics import (
        event_rate_mad_outliers_q,
    )
    HOUR = 3600 * SEC
    rows = []
    eid = 0
    for h in range(7):
        for k in range(4):  # constant 4/hour
            rows.append((eid, 0, h * HOUR + k * SEC, "view", 1.0))
            eid += 1
    rows.append((eid, 0, 7 * HOUR, "view", 1.0))  # hour 7: count 1
    with tempfile.TemporaryDirectory(prefix="kfps_madz_") as td:
        _event_table(spark, td, rows)
        out = {int((r.hour - T0).total_seconds() // 3600): r for r in
               event_rate_mad_outliers_q(spark, td).collect()}
    assert out[0].mad == 0.0
    assert out[7].is_outlier and not out[0].is_outlier


def test_pca_variance_matches_numpy(spark):
    from kafka_flink_processing_spark.plans.analytics import (
        embedding_pca_variance_q,
    )
    out = embedding_pca_variance_q(spark, SF).collect()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    X = np.vstack([r.embedding for r in emb]).astype("float64")
    want = np.linalg.eigvalsh(np.cov(X, rowvar=False))[::-1]
    want = np.clip(want, 0.0, None)
    got = sorted(out, key=lambda r: r.component)
    assert len(got) == X.shape[1]
    for i, r in enumerate(got):
        assert abs(r.eigenvalue - want[i]) < 1e-8 * max(1.0, want[0]), i
    assert abs(got[-1].cumulative_ratio - 1.0) < 1e-9
    ratios = [r.explained_ratio for r in got]
    assert all(ratios[i] >= ratios[i + 1] - 1e-12
               for i in range(len(ratios) - 1))


def test_cluster_aware_folds_no_leakage(spark):
    from kafka_flink_processing_spark.plans.extensions import (
        _N_FOLDS,
        cluster_aware_folds_q,
        dedup_minhash_lsh_q,
    )
    folds = {r.doc_id: r for r in cluster_aware_folds_q(spark, SF).collect()}
    pairs = dedup_minhash_lsh_q(spark, SF).collect()
    assert pairs, "fixture corpus must contain near-dup pairs"
    for p in pairs:  # every near-dup pair shares a fold — the whole point
        assert folds[p.doc_a].fold == folds[p.doc_b].fold, (p.doc_a, p.doc_b)
        assert folds[p.doc_a].canonical_id == folds[p.doc_b].canonical_id
    counts = [0] * _N_FOLDS
    for r in folds.values():
        assert 0 <= r.fold < _N_FOLDS
        counts[r.fold] += 1
    assert all(c > 0 for c in counts)  # hash spreads folds at 500 docs
