"""Fixture-level semantics for the late-r5 pack B: rolling median vs
pandas, SCD-2 regime intervals vs a straight-line island spec, the
hub-pair correlation matrix vs numpy, BM25 vs a straight-line Python
scorer, and n-gram containment's sub-document catch vs brute force."""

from __future__ import annotations

import datetime as dt
import math
import tempfile

import numpy as np
import pandas as pd

from kafka_flink_processing_spark.plans.analytics import (
    _BM25_B,
    _BM25_K1,
    _BM25_SCALE,
    _BM25_TERMS,
    bm25_rank_q,
)
from kafka_flink_processing_spark.plans.extensions import (
    dedup_containment_pairs_q,
)
from kafka_flink_processing_spark.plans.market import (
    _BAND_MWH,
    _MED_N,
    hub_price_corr_matrix_q,
    rolling_median_price_q,
    scd2_price_intervals_q,
)
from tests.test_market import SEC, T0, _event_table

DAY = 86_400 * SEC


# --------------------------------------------------------------- median


def test_rolling_median_matches_pandas(spark):
    # one hub, 60 ticks: exercises the warm-up frames (1..20 ticks) and
    # the saturated 21-frame, with spikes a mean would smear
    prices = [round(100.0 + 8.0 * math.sin(i / 4.0)
                    + (500.0 if i % 17 == 0 else 0.0), 2)
              for i in range(60)]
    rows = [(i, 0, i * 10 * SEC, "view", p) for i, p in enumerate(prices)]
    with tempfile.TemporaryDirectory(prefix="kfps_med_") as td:
        _event_table(spark, td, rows)
        got = {r.tick_id: r.med_price
               for r in rolling_median_price_q(spark, td).collect()}
    want = pd.Series(prices).rolling(_MED_N, min_periods=1).median()
    assert len(got) == len(prices)
    for i in range(len(prices)):
        assert got[i] == want.iloc[i], i


def test_rolling_median_resists_spike(spark):
    # a single 10x spike must leave the median at the base level while
    # it sits in every covering frame (the mean would jump ~5x/21)
    rows = [(i, 0, i * SEC, "view", 1000.0 if i == 30 else 50.0)
            for i in range(60)]
    with tempfile.TemporaryDirectory(prefix="kfps_medspike_") as td:
        _event_table(spark, td, rows)
        out = {r.tick_id: r.med_price
               for r in rolling_median_price_q(spark, td).collect()}
    assert all(v == 50.0 for v in out.values())


# ---------------------------------------------------------------- scd2


def _scd2_spec(ts_prices):
    """Straight-line islands: ts_prices is [(ts_us, price)] in order."""
    bands = [math.floor(p / _BAND_MWH) for _, p in ts_prices]
    runs = []  # (band, start_idx, n)
    for i, b in enumerate(bands):
        if i == 0 or b != bands[i - 1]:
            runs.append([b, i, 1])
        else:
            runs[-1][2] += 1
    out = []
    for k, (b, i, n) in enumerate(runs):
        nxt = ts_prices[runs[k + 1][1]][0] if k + 1 < len(runs) else None
        out.append((k + 1, b, ts_prices[i][0], nxt, n))
    return out  # (island, band, from_us, until_us_or_None, n_ticks)


def test_scd2_matches_python_spec(spark):
    prices = [12.0, 14.9, 15.0, 22.0, 21.0, 8.0, 8.0, 31.0]
    rows = [(i, 0, i * 60 * SEC, "view", p) for i, p in enumerate(prices)]
    with tempfile.TemporaryDirectory(prefix="kfps_scd2_") as td:
        _event_table(spark, td, rows)
        got = sorted(scd2_price_intervals_q(spark, td).collect(),
                     key=lambda r: r.island)
    want = _scd2_spec([(i * 60 * SEC, p) for i, p in enumerate(prices)])
    assert len(got) == len(want)
    for r, (isl, band, f_us, u_us, n) in zip(got, want):
        assert (r.island, r.band, r.n_ticks) == (isl, band, n)
        assert r.valid_from == T0 + dt.timedelta(microseconds=f_us)
        if u_us is None:
            assert r.valid_until is None  # still-current regime
        else:
            assert r.valid_until == T0 + dt.timedelta(microseconds=u_us)


def test_scd2_intervals_tile_without_gaps(spark):
    # consecutive intervals must tile: each valid_until equals the next
    # valid_from, n_ticks sums to the tick count, exactly one open row
    rng = np.random.default_rng(7)
    prices = np.round(rng.uniform(0.0, 40.0, 200), 2).tolist()
    rows = [(i, 0, i * SEC, "view", p) for i, p in enumerate(prices)]
    with tempfile.TemporaryDirectory(prefix="kfps_scd2b_") as td:
        _event_table(spark, td, rows)
        got = sorted(scd2_price_intervals_q(spark, td).collect(),
                     key=lambda r: r.island)
    assert sum(r.n_ticks for r in got) == len(prices)
    opens = [r for r in got if r.valid_until is None]
    assert len(opens) == 1 and opens[0] is got[-1]
    for a, b in zip(got, got[1:]):
        assert a.valid_until == b.valid_from
        assert a.band != b.band  # adjacent islands differ by construction


# ------------------------------------------------------------ corr matrix


def test_corr_matrix_matches_numpy(spark):
    # 3 hubs (user_id 0/1/2), 6 days, one tick per hub-day with 2dp
    # prices: daily averages equal the prices, so numpy corrcoef over
    # the day-aligned series is the exact expectation
    series = {0: [10.0, 12.0, 11.0, 15.0, 13.0, 14.0],
              1: [20.0, 19.0, 22.0, 25.0, 24.0, 27.0],
              2: [5.0, 9.0, 4.0, 8.0, 3.0, 7.0]}
    rows = []
    eid = 0
    for uid, prices in series.items():
        for d, p in enumerate(prices):
            rows.append((eid, uid, d * DAY, "view", p))
            eid += 1
    with tempfile.TemporaryDirectory(prefix="kfps_corrm_") as td:
        _event_table(spark, td, rows)
        got = {(r.hub_a, r.hub_b): (r.n_days, r.corr)
               for r in hub_price_corr_matrix_q(spark, td).collect()}
    assert set(got) == {("HUB0", "HUB1"), ("HUB0", "HUB2"),
                        ("HUB1", "HUB2")}
    for (a, b), (n, corr) in got.items():
        x = series[int(a[-1])]
        y = series[int(b[-1])]
        assert n == 6
        assert abs(corr - np.corrcoef(x, y)[0, 1]) < 1e-6, (a, b)


def test_corr_matrix_constant_hub_is_null(spark):
    # a constant-price hub has zero variance: its pairs must be NULL,
    # never a division blow-up
    rows = [(0, 0, 0, "view", 10.0), (1, 0, DAY, "view", 20.0),
            (2, 1, 0, "view", 7.0), (3, 1, DAY, "view", 7.0)]
    with tempfile.TemporaryDirectory(prefix="kfps_corrc_") as td:
        _event_table(spark, td, rows)
        got = hub_price_corr_matrix_q(spark, td).collect()
    assert len(got) == 1
    assert got[0].n_days == 2 and got[0].corr is None


# ---------------------------------------------------------------- bm25


def _bm25_spec(docs: dict[int, str]):
    toks = {d: t.split(" ") for d, t in docs.items()}
    dl = {d: len(w) for d, w in toks.items()}
    n = len(docs)
    avgdl = sum(dl.values()) / n
    df = {t: sum(1 for w in toks.values() if t in w) for t in _BM25_TERMS}
    out = {}
    for d, w in toks.items():
        total, nt = 0.0, 0
        for t in _BM25_TERMS:
            tf = w.count(t)
            if tf == 0:
                continue
            nt += 1
            idf = (n - df[t] + 0.5) / (df[t] + 0.5)
            denom = tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl[d] / avgdl)
            total += round(idf * (tf * (_BM25_K1 + 1.0)) / denom
                           * _BM25_SCALE)
        if nt:
            out[d] = (nt, total / _BM25_SCALE)
    return out


def test_bm25_matches_python_spec(spark):
    docs = {
        1: "the join window stream hash batch engine",   # all 5 terms
        2: "a join over a join with another join here",  # tf=3 one term
        3: "nothing relevant in this prose at all",      # no probe terms
        4: "window window stream and some other words padding the length",
        5: "hash " * 19 + "hash",                        # long, saturating tf
    }
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    with tempfile.TemporaryDirectory(prefix="kfps_bm25_") as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long") \
            .write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {r.doc_id: (r.n_terms, r.score)
               for r in bm25_rank_q(spark, td).collect()}
    want = _bm25_spec(docs)
    assert 3 not in got                    # zero probe terms -> absent
    assert set(got) == set(want)
    for d, (nt, score) in want.items():
        assert got[d][0] == nt
        # python round is banker's, engine round is half-up: per-term
        # scores sit at a .5 scaled boundary with ~0 probability, but
        # compare to the fixed-point floor rather than bit-exact
        assert abs(got[d][1] - score) <= 2.0 / _BM25_SCALE, d


def test_bm25_tf_saturates(spark):
    # k1 bounds the tf contribution: 20 repeats of one term must score
    # less than (k1+1)/1 times a single occurrence at the same dl
    base = "filler words to equalize the document length here now"
    docs = {1: "join " + base, 2: ("join " * 20).strip()}
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    with tempfile.TemporaryDirectory(prefix="kfps_bm25s_") as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long") \
            .write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {r.doc_id: r.score for r in bm25_rank_q(spark, td).collect()}
    assert got[2] > got[1]                       # more tf still helps...
    assert got[2] < got[1] * (_BM25_K1 + 1.0)    # ...but saturates under k1


# ------------------------------------------------------------ containment


def _grams(text: str, n: int = 3) -> set[str]:
    ws = text.split(" ")
    if len(ws) < n:
        return set()
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def test_containment_catches_subdocument_jaccard_misses(spark):
    # doc 2 is a verbatim 12-word span inside the 48-word doc 1: its
    # containment is 1.0 but its Jaccard is ~10/46 — under every sane
    # Jaccard threshold. This asymmetry is the operator's reason to exist.
    long_words = [f"w{i}" for i in range(48)]
    sub = " ".join(long_words[20:32])
    docs = {1: " ".join(long_words), 2: sub,
            3: " ".join(f"z{i}" for i in range(30))}   # unrelated control
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    with tempfile.TemporaryDirectory(prefix="kfps_cont_") as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long") \
            .write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {(r.doc_a, r.doc_b): (r.containment, r.jaccard)
               for r in dedup_containment_pairs_q(spark, td).collect()}
    assert set(got) == {(1, 2)}               # control pair absent
    cont, jac = got[(1, 2)]
    g1, g2 = _grams(docs[1]), _grams(docs[2])
    inter = len(g1 & g2)
    assert cont == 1.0
    assert abs(cont - inter / min(len(g1), len(g2))) < 1e-12
    assert abs(jac - inter / len(g1 | g2)) < 1e-12
    assert jac < 0.25                          # Jaccard would have missed it


def test_containment_brute_force_parity(spark):
    # randomized corpus: every reported pair and value must match the
    # O(n^2) set-arithmetic brute force at the 0.5 threshold
    rng = np.random.default_rng(11)
    vocab = [f"t{i}" for i in range(30)]
    docs = {}
    for d in range(12):
        k = int(rng.integers(6, 20))
        docs[d] = " ".join(rng.choice(vocab, size=k))
    rows = [(d, t, "en", "s", len(t)) for d, t in docs.items()]
    with tempfile.TemporaryDirectory(prefix="kfps_contbf_") as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long") \
            .write.mode("overwrite").parquet(f"{td}/documents.parquet")
        got = {(r.doc_a, r.doc_b): r.containment
               for r in dedup_containment_pairs_q(spark, td).collect()}
    want = {}
    gs = {d: _grams(t) for d, t in docs.items()}
    for a in sorted(docs):
        for b in sorted(docs):
            if a >= b or not gs[a] or not gs[b]:
                continue
            inter = len(gs[a] & gs[b])
            c = inter / min(len(gs[a]), len(gs[b]))
            if c >= 0.5:
                want[(a, b)] = c
    assert got == want


# ------------------------------------------------------- forecast backtest


def test_forecast_backtest_matches_pandas(spark):
    from kafka_flink_processing_spark.operators.windows import SMA_SHORT
    from kafka_flink_processing_spark.plans.market import (
        forecast_backtest_sma_q,
    )
    prices = [round(100.0 + 10.0 * math.sin(i / 3.0), 2) for i in range(50)]
    rows = [(i, 0, i * 60 * SEC, "view", p) for i, p in enumerate(prices)]
    with tempfile.TemporaryDirectory(prefix="kfps_bt_") as td:
        _event_table(spark, td, rows)
        got = forecast_backtest_sma_q(spark, td).collect()
    assert len(got) == 1 and got[0].hub == "HUB0"
    s = pd.Series(prices)
    err = (s.shift(-1) - s.rolling(SMA_SHORT, min_periods=1).mean()).dropna()
    scaled = (err * 1e4).round()
    n = len(err)
    assert got[0].n_forecasts == n == len(prices) - 1
    assert abs(got[0].bias - scaled.sum() / 1e4 / n) < 1e-9
    assert abs(got[0].mae - scaled.abs().sum() / 1e4 / n) < 1e-9
    assert abs(got[0].rmse
               - math.sqrt((err ** 2 * 1e4).round().sum() / 1e4 / n)) < 1e-9


def test_forecast_backtest_perfect_forecast_scores_zero(spark):
    # a constant price series is perfectly forecast by its own SMA:
    # bias/mae/rmse must be exactly 0.0, n_forecasts = ticks - 1
    from kafka_flink_processing_spark.plans.market import (
        forecast_backtest_sma_q,
    )
    rows = [(i, 1, i * SEC, "click", 42.0) for i in range(30)]
    with tempfile.TemporaryDirectory(prefix="kfps_btz_") as td:
        _event_table(spark, td, rows)
        got = forecast_backtest_sma_q(spark, td).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_forecasts, r.bias, r.mae, r.rmse) == (29, 0.0, 0.0, 0.0)


# ------------------------------------------------------ execution quality


def test_vwap_execution_quality_matches_spec(spark):
    # one hub, one day, hand-sized trades: mw cycles 5/10/25/50 by
    # event_id % 4, side = BUY for purchase/signup, SELL for error
    from kafka_flink_processing_spark.plans.market import (
        vwap_execution_quality_q,
    )
    rows = [(0, 0, 0 * SEC, "purchase", 100.0),     # BUY mw=5
            (1, 0, 1 * SEC, "error", 90.0),         # SELL mw=10
            (2, 0, 2 * SEC, "signup", 110.0),       # BUY mw=25
            (3, 0, 3 * SEC, "error", 95.0)]         # SELL mw=50
    mws = [5, 10, 25, 50]
    prices = [100.0, 90.0, 110.0, 95.0]
    vwap = (sum(round(m * p * 100) for m, p in zip(mws, prices)) / 100.0
            / sum(mws))
    with tempfile.TemporaryDirectory(prefix="kfps_xq_") as td:
        _event_table(spark, td, rows)
        got = {(r.hub, r.side): r
               for r in vwap_execution_quality_q(spark, td).collect()}
    assert set(got) == {("HUB0", "BUY"), ("HUB0", "SELL")}

    def spec(idx):
        devs = [round((prices[i] - vwap) * 1e4) / 1e4 for i in idx]
        n = len(devs)
        return (n, sum(devs) / n, sum(abs(d) for d in devs) / n)

    for side, idx in (("BUY", [0, 2]), ("SELL", [1, 3])):
        n, mean_dev, mean_abs = spec(idx)
        r = got[("HUB0", side)]
        assert r.n_trades == n
        assert abs(r.mean_dev - mean_dev) < 1e-9
        assert abs(r.mean_abs_dev - mean_abs) < 1e-9
