"""W2/W3 verification (SURVEY.md §5.2 items 2-3):

- property tests for the netting core (position = sum of signed qty, flat =>
  avg 0, buy-then-sell-all realizes (sell-buy)*qty, same-direction-only =>
  realized 0)
- netting branch coverage on hand fixtures (cold start, add, partial close,
  full close, flip — reference PnlAndExposureJob.java:113-132)
- replay equality: the Spark applyInPandas fold must equal the straight-line
  Python spec fold row-for-row under the documented total order, on both a
  hand fixture and the sf0.001 events derivation; both batch forms equal it
  bit for bit on a fixture that carries state and prices across midnight
- the registered fold query builds lazily (no eager job at build time)
- carried state: fold_hub over a prefix, then over the rest seeded with the
  prefix's end state, equals one spec replay over everything
- Arrow chunking: the streaming folds equal the batch plans when one key's
  micro-batch spans several out-of-order Arrow chunks
"""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import Counter

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_flink_processing_spark.operators.netting import (
    PRICE,
    TRADE,
    apply_fill,
    replay,
    sort_key,
)
from kafka_flink_processing_spark.operators.pnl import fold_hub, pnl_positions

# ---------------------------------------------------------------------------
# netting core properties
# ---------------------------------------------------------------------------

fills = st.lists(
    st.tuples(st.sampled_from([5, 10, 25, 50]), st.booleans(),
              st.floats(min_value=5.0, max_value=200.0, allow_nan=False)),
    min_size=1, max_size=50)


def _run(seq):
    pos, avg, realized = 0, 0.0, 0.0
    for mw, is_buy, px in seq:
        pos, avg, realized = apply_fill(pos, avg, realized,
                                        mw if is_buy else -mw, px)
    return pos, avg, realized


@settings(max_examples=200, deadline=None)
@given(fills)
def test_position_is_sum_of_signed_qty(seq):
    pos, _, _ = _run(seq)
    assert pos == sum(mw if b else -mw for mw, b, _ in seq)


@settings(max_examples=200, deadline=None)
@given(fills)
def test_flat_position_has_zero_avg(seq):
    pos, avg, _ = _run(seq)
    if pos == 0:
        assert avg == 0.0


@settings(max_examples=200, deadline=None)
@given(fills)
def test_same_direction_never_realizes(seq):
    same = [(mw, True, px) for mw, _, px in seq]
    _, _, realized = _run(same)
    assert realized == 0.0


@settings(max_examples=200, deadline=None)
@given(st.sampled_from([5, 10, 25, 50]),
       st.floats(min_value=5, max_value=200, allow_nan=False),
       st.floats(min_value=5, max_value=200, allow_nan=False))
def test_round_trip_realizes_spread(mw, buy_px, sell_px):
    pos, avg, realized = _run([(mw, True, buy_px), (mw, False, sell_px)])
    assert pos == 0 and avg == 0.0
    assert math.isclose(realized, mw * (sell_px - buy_px), abs_tol=1e-9)


def test_netting_branches():
    # add to flat (reference :117-120)
    assert apply_fill(0, 0.0, 0.0, 10, 50.0) == (10, 50.0, 0.0)
    # same-direction add: weighted average
    pos, avg, r = apply_fill(10, 50.0, 0.0, 10, 60.0)
    assert (pos, avg, r) == (20, 55.0, 0.0)
    # partial close: avg unchanged, realized = closing * (px - avg)
    pos, avg, r = apply_fill(20, 55.0, 0.0, -5, 65.0)
    assert (pos, avg, r) == (15, 55.0, 50.0)
    # full close: resets to (0, 0.0) (reference :124-125)
    pos, avg, r = apply_fill(15, 55.0, 50.0, -15, 60.0)
    assert (pos, avg, r) == (0, 0.0, 125.0)
    # flip: residual position at fill price (reference :126-128)
    pos, avg, r = apply_fill(10, 50.0, 0.0, -25, 40.0)
    assert (pos, avg, r) == (-15, 40.0, -100.0)
    # short side realized: avg - px (reference :123)
    pos, avg, r = apply_fill(-15, 40.0, 0.0, 5, 30.0)
    assert (pos, avg, r) == (-10, 40.0, 50.0)


# ---------------------------------------------------------------------------
# spec-fold replay semantics (fixture covers every FIXTURES.md §A case)
# ---------------------------------------------------------------------------

def _t(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


FIXTURE = [
    # cold start: trade before any price on its hub (reference :130)
    dict(kind=TRADE, ts=_t(1), hub="H1", trade_id=1, account="A1",
         side="BUY", mw=10, price_mwh=50.0),
    dict(kind=PRICE, ts=_t(2), hub="H1", price_mwh=52.0),
    # second account appears -> price fan-out becomes 2 rows
    dict(kind=TRADE, ts=_t(3), hub="H1", trade_id=2, account="A2",
         side="SELL", mw=5, price_mwh=52.5),
    dict(kind=PRICE, ts=_t(4), hub="H1", price_mwh=51.0),
    # partial close / flip / full close
    dict(kind=TRADE, ts=_t(5), hub="H1", trade_id=3, account="A1",
         side="SELL", mw=25, price_mwh=53.0),
    dict(kind=TRADE, ts=_t(6), hub="H1", trade_id=4, account="A2",
         side="BUY", mw=5, price_mwh=50.0),
    dict(kind=PRICE, ts=_t(7), hub="H1", price_mwh=49.0),
]


def test_spec_fold_semantics():
    rows = replay(sorted(FIXTURE, key=sort_key))
    # 4 trade rows + fan-outs: price@2 ->1 (A1), price@4 ->2, price@7 ->2
    assert len(rows) == 4 + 1 + 2 + 2
    first = rows[0]
    assert first["last_price_mwh"] == 50.0        # cold-start fallback
    assert first["position_mw"] == 10
    flip = [r for r in rows if r["ts"] == _t(5)][0]
    assert flip["position_mw"] == -15 and flip["avg_price_mwh"] == 53.0
    assert flip["realized_pnl"] == 10 * (53.0 - 50.0)
    closed = [r for r in rows if r["ts"] == _t(6)][0]
    assert closed["position_mw"] == 0 and closed["avg_price_mwh"] == 0.0


def test_spark_fold_equals_spec_on_fixture(spark):
    trades = spark.createDataFrame(
        [(r["trade_id"], r["ts"], r["account"], r["hub"], r["side"],
          r["mw"], r["price_mwh"]) for r in FIXTURE if r["kind"] == TRADE],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw int, price_mwh double")
    prices = spark.createDataFrame(
        [(r["ts"], r["hub"], r["price_mwh"]) for r in FIXTURE
         if r["kind"] == PRICE],
        "ts timestamp, hub string, price_mwh double")
    got = {tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
           for r in pnl_positions(trades, prices).collect()}
    want = {tuple(sorted(r.items(), key=lambda kv: kv[0]))
            for r in replay(sorted(FIXTURE, key=sort_key))}
    assert got == want


def test_spark_fold_equals_spec_on_events_derivation(spark):
    from kafka_flink_processing_spark.sources.events_market import (
        derive_market,
    )
    sf = "/root/testdata/sf0.001"
    trades, prices = derive_market(spark, sf)
    spark_rows = pnl_positions(trades, prices).collect()

    recs = []
    for r in trades.collect():
        recs.append(dict(kind=TRADE, ts=r.ts, hub=r.hub, trade_id=r.trade_id,
                         account=r.account, side=r.side, mw=r.mw,
                         price_mwh=r.price_mwh))
    for r in prices.collect():
        recs.append(dict(kind=PRICE, ts=r.ts, hub=r.hub, price_mwh=r.price_mwh))
    # spec fold is per-hub; group then sort
    by_hub: dict[str, list] = {}
    for rec in recs:
        by_hub.setdefault(rec["hub"], []).append(rec)
    want_rows = []
    for hub_recs in by_hub.values():
        want_rows.extend(replay(sorted(hub_recs, key=sort_key)))

    got = {tuple(sorted(r.asDict().items())) for r in spark_rows}
    want = {tuple(sorted(r.items())) for r in want_rows}
    assert len(spark_rows) == len(want_rows)
    assert got == want


def _d(day, hh, mm=0, ss=0):
    return dt.datetime(2024, 1, day, hh, mm, ss)


# One hub over four days. Day 1 opens A's position; day 2 starts with
# trades at and after midnight before any day-2 tick, so they see the
# day-1 close; day 3 has trades but no tick; day 4's first trade sees the
# day-2 close carried across it, then its ticks fan out to both accounts.
MIDNIGHT_FIXTURE = [
    dict(kind=PRICE, ts=_d(1, 22), hub="H", trade_id=1, price_mwh=40.25),
    dict(kind=TRADE, ts=_d(1, 23, 10), hub="H", trade_id=1, account="A",
         side="BUY", mw=10, price_mwh=41.13),
    dict(kind=PRICE, ts=_d(1, 23, 59, 59), hub="H", trade_id=2,
         price_mwh=42.37),
    dict(kind=TRADE, ts=_d(2, 0), hub="H", trade_id=2, account="B",
         side="SELL", mw=5, price_mwh=43.01),
    dict(kind=TRADE, ts=_d(2, 0, 30), hub="H", trade_id=3, account="A",
         side="BUY", mw=25, price_mwh=39.7),
    dict(kind=PRICE, ts=_d(2, 9), hub="H", trade_id=3, price_mwh=44.9),
    dict(kind=PRICE, ts=_d(2, 17), hub="H", trade_id=4, price_mwh=38.55),
    dict(kind=TRADE, ts=_d(3, 11), hub="H", trade_id=4, account="A",
         side="SELL", mw=50, price_mwh=37.3),
    dict(kind=TRADE, ts=_d(4, 1), hub="H", trade_id=5, account="B",
         side="BUY", mw=10, price_mwh=36.45),
    dict(kind=PRICE, ts=_d(4, 2), hub="H", trade_id=5, price_mwh=35.2),
    dict(kind=PRICE, ts=_d(4, 3), hub="H", trade_id=6, price_mwh=36.8),
]


def test_midnight_carry_fixture_equals_spec(spark):
    """Both batch forms on MIDNIGHT_FIXTURE equal the spec replay row for
    row, floats bit for bit. Carried last prices reach the day-2 and day-4
    first trades (day 3 has no tick), and day-2 ticks fan out carried
    day-1 positions."""
    from kafka_flink_processing_spark.operators.pnl import pnl_positions_hybrid
    want = replay(sorted(MIDNIGHT_FIXTURE, key=sort_key))
    # the cases the fixture is for, read off the spec
    first_d2 = [r for r in want if r["ts"] == _d(2, 0)]
    assert [r["last_price_mwh"] for r in first_d2] == [42.37]
    first_d4 = [r for r in want if r["ts"] == _d(4, 1)]
    assert [r["last_price_mwh"] for r in first_d4] == [38.55]
    assert [(r["account"], r["position_mw"]) for r in want
            if r["ts"] == _d(2, 9)] == [("A", 35), ("B", -5)]

    trades = spark.createDataFrame(
        [(r["trade_id"], r["ts"], r["account"], r["hub"], r["side"],
          r["mw"], r["price_mwh"]) for r in MIDNIGHT_FIXTURE
         if r["kind"] == TRADE],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw int, price_mwh double")
    prices = spark.createDataFrame(
        [(r["ts"], r["hub"], r["price_mwh"], r["trade_id"])
         for r in MIDNIGHT_FIXTURE if r["kind"] == PRICE],
        "ts timestamp, hub string, price_mwh double, tick_id long")
    want_bits = sorted(_bits(r) for r in want)
    for build in (pnl_positions, pnl_positions_hybrid):
        got = sorted(_bits(r.asDict())
                     for r in build(trades, prices).collect())
        assert got == want_bits, build.__name__


def test_fold_query_build_starts_no_job(spark):
    """Building the registered pnl_positions_fold is lazy: once the input
    schema is known, a build starts no Spark job and persists nothing."""
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES,
        _ensure_loaded,
    )
    from tests.conftest import SF_SMOKE
    from tests.test_parquet_source import _jobs_started
    _ensure_loaded()
    build = QUERIES["pnl_positions_fold"].spark
    _jobs_started(spark, "pnl-fold-build-first",
                  lambda: build(spark, SF_SMOKE))
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    _, n_jobs = _jobs_started(spark, "pnl-fold-build-again",
                              lambda: build(spark, SF_SMOKE))
    assert n_jobs == 0
    assert jsc.getPersistentRDDs().size() == persisted


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_hybrid_fold_bitwise_equals_single_fold(spark, sf_dir):
    """The hybrid decomposition (Python over sparse trades only + JVM
    window-algebra emission) must produce EXACTLY the single-fold output —
    same rows, bit-equal floats — at BOTH test SFs (sf0.01 spans enough
    days that the day-keyed last-price carry is genuinely exercised).
    This is the strongest check on the two as-of attachments: the
    day-keyed last-price pass must see ticks strictly before each trade
    (equal-ts ticks excluded, cross-day carry via the shared entry-price
    helper), and the per-(hub, account) state window must see same-ts
    trades (included) — one row differing in last_price or state breaks
    set equality."""
    from kafka_flink_processing_spark.operators.pnl import pnl_positions_hybrid
    from kafka_flink_processing_spark.sources.events_market import (
        derive_market,
    )
    trades, prices = derive_market(spark, sf_dir)
    single = pnl_positions(trades, prices).collect()
    hybrid = pnl_positions_hybrid(trades, prices).collect()
    assert len(single) == len(hybrid)
    key = lambda r: tuple(sorted(r.asDict().items()))  # noqa: E731
    assert {key(r) for r in single} == {key(r) for r in hybrid}


# ---------------------------------------------------------------------------
# carried-state contract of fold_hub (_pnl_fn and PnlProcessor seed it
# with the state a previous micro-batch ended in)
# ---------------------------------------------------------------------------

@st.composite
def _hub_events(draw):
    """One hub's events: an optional price-only prefix, then trades and
    ticks on a coarse clock (same-ts ties within and across kinds), with
    lot sizes that make positions close and flip."""
    n_lead = draw(st.integers(0, 3))
    events = [dict(kind=PRICE, ts=_t(i), hub="H", trade_id=i,
                   price_mwh=draw(st.floats(20.0, 80.0)))
              for i in range(n_lead)]
    body = draw(st.lists(st.tuples(
        st.booleans(), st.integers(0, 6), st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["BUY", "SELL"]), st.sampled_from([5, 10, 25, 50]),
        st.floats(20.0, 80.0)), max_size=40))
    for i, (is_trade, dt_s, acct, side, mw, px) in enumerate(body):
        ts = _t(n_lead + dt_s)
        if is_trade:
            events.append(dict(kind=TRADE, ts=ts, hub="H", trade_id=i,
                               account=acct, side=side, mw=mw, price_mwh=px))
        else:
            events.append(dict(kind=PRICE, ts=ts, hub="H",
                               trade_id=n_lead + i, price_mwh=px))
    return events


def _frame(events):
    cols = ["ts", "hub", "account", "side", "mw", "price_mwh", "trade_id",
            "kind"]
    return pd.DataFrame([{c: e.get(c) for c in cols} for e in events],
                        columns=cols)


def _bits(row):
    # positions compare as ints (the Arrow cast), floats bit for bit
    return (pd.Timestamp(row["ts"]), row["account"], row["hub"],
            int(row["position_mw"])) + tuple(
        float(row[c]).hex() for c in ("avg_price_mwh", "last_price_mwh",
                                      "realized_pnl", "unrealized_pnl",
                                      "total_pnl"))


@settings(max_examples=200, deadline=None)
@given(_hub_events(), st.data())
def test_fold_hub_seeded_with_prefix_state_equals_spec(events, data):
    ordered = sorted(events, key=sort_key)
    cut = data.draw(st.integers(0, len(ordered)), label="cut")
    # each side arrives shuffled: fold_hub must impose the total order
    head = data.draw(st.permutations(ordered[:cut]), label="head")
    tail = data.draw(st.permutations(ordered[cut:]), label="tail")
    rows1, last_price, accounts = fold_hub(_frame(head))
    rows2, _, _ = fold_hub(_frame(tail), last_price, accounts)
    got = [_bits(r) for r in rows1.to_dict("records")
           + rows2.to_dict("records")]
    assert got == [_bits(r) for r in replay(ordered)]


# ---------------------------------------------------------------------------
# streaming folds vs batch when a key's micro-batch spans Arrow chunks
# ---------------------------------------------------------------------------

_EVENT_SCHEMA = ("kind string, ts timestamp, hub string, tick_id long, "
                 "trade_id long, account string, side string, mw int, "
                 "price_mwh double")


def _bag(df):
    return Counter(tuple(sorted(r.asDict().items())) for r in df.collect())


def test_streaming_folds_equal_batch_across_arrow_chunks(spark, tmp_path):
    """One hub's 12 ticks and 12 trades, written in reverse ts order and
    cut into 3-row Arrow chunks: the streaming SMA and PnL folds must
    fold the whole micro-batch in ts order, not each chunk on its own."""
    from kafka_flink_processing_spark.operators.windows import (
        rolling_sma_forecast,
    )
    from kafka_flink_processing_spark.streaming.sinks import (
        run_available_now,
    )
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl,
        streaming_sma_forecast,
    )

    events = []
    for i in range(12):
        events.append(dict(kind="price", ts=_t(2 * i).isoformat(), hub="H1",
                           tick_id=i, price_mwh=40.0 + 3.5 * (i % 5)))
        events.append(dict(kind="trade", ts=_t(2 * i + 1).isoformat(),
                           hub="H1", trade_id=i, account=f"A{i % 3}",
                           side="BUY" if i % 4 < 2 else "SELL",
                           mw=(5, 10, 25)[i % 3], price_mwh=41.0 + i))
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "events.json", "w") as f:
        for e in sorted(events, key=lambda e: e["ts"], reverse=True):
            f.write(json.dumps(e) + "\n")

    def split(ev):
        trades = ev.filter("kind = 'trade'").select(
            "trade_id", "ts", "account", "hub", "side", "mw", "price_mwh")
        prices = ev.filter("kind = 'price'").select(
            "ts", "hub", "price_mwh", "tick_id")
        return trades, prices

    def stream():
        return spark.readStream.schema(_EVENT_SCHEMA).json(str(src))

    trades, prices = split(spark.read.schema(_EVENT_SCHEMA).json(str(src)))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        run_available_now(
            streaming_sma_forecast(split(stream())[1], seq_col="tick_id"),
            "chunked_sma_out", str(tmp_path / "ck_sma"))
        s_trades, s_prices = split(stream())
        run_available_now(streaming_pnl(s_trades, s_prices),
                          "chunked_pnl_out", str(tmp_path / "ck_pnl"))
        want_sma = rolling_sma_forecast(
            prices.withColumnRenamed("tick_id", "seq"), ["hub"],
            ["ts", "seq"], "price_mwh").select(
            "ts", "hub", "price_mwh", "sma5", "sma20", "forecast_next")
        want_pnl = pnl_positions(trades, prices)
        assert (_bag(spark.table("chunked_sma_out"))
                == _bag(want_sma))
        assert (_bag(spark.table("chunked_pnl_out"))
                == _bag(want_pnl))
    finally:
        spark.conf.set(key, prev)
