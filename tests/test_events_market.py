"""The events -> market derivation (sources/events_market.py): the Spark
builders and the DuckDB CTEs over one hand `events` table must return
the same relations, and each tape rule the same columns as its DuckDB
rendering, compared the way the oracle gate compares."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.plans.registry import oracle_sql, queries
from kafka_flink_processing_spark.sources.events_market import (
    CLOSE_PRICE_SQL,
    DA_CTE,
    NOTIONAL_SQL,
    OPEN_PRICE_SQL,
    RT_CTE,
    SIGNED_MW_SQL,
    TICKS_CTE,
    TRADES_CTE,
    VWAP_SQL,
    close_price,
    derive_da_rt,
    derive_market,
    lagged_price,
    lagged_price_sql,
    notional,
    open_price,
    price_change,
    price_change_sql,
    signed_mw,
    tape_window,
    tape_window_sql,
    vwap,
)
from tools.oracle_check import compare, duck_connection

T0 = dt.datetime(2024, 1, 1)

# (event_id, seconds after T0, user_id, event_type, value). Users 0..5
# cover every hub (user_id % 4) and every account (user_id % 3 + 1).
# HUB0, HUB2 and HUB3 have one tick each; HUB1 has five over two days,
# two pairs at one ts (events 2, 3 and 13, 14), and the trades 9, 10 and
# 16, 17 tie on ts too. Each tied pair is written greater id first, so
# an order that drops the id follows the file, not the tape. Tick 18 has
# no user, so no hub.
EVENTS = [
    (0, 0, 0, "view", 50.0),
    (1, 0, 0, "purchase", 51.5),
    (3, 60, 5, "view", 41.0),
    (2, 60, 1, "click", 40.25),
    (4, 120, 2, "signup", 60.0),
    (5, 120, 2, "view", 61.0),
    (6, 180, 3, "error", 70.0),
    (7, 180, 3, "click", 69.5),
    (8, 240, 4, "signup", 52.0),
    (10, 300, 1, "purchase", 42.0),
    (9, 300, 5, "error", 39.0),
    (11, 360, 0, "signup", 49.0),
    (12, 86340, 1, "view", 43.0),
    (14, 86460, 1, "view", 44.0),
    (13, 86460, 5, "click", 44.5),
    (15, 86520, 1, "purchase", 45.0),
    (17, 86580, 1, "error", 47.5),
    (16, 86580, 5, "error", 46.0),
    (18, 420, None, "click", 55.0),
]


def _write_events(path) -> None:
    eid, sec, uid, et, val = zip(*EVENTS)
    pq.write_table(pa.table({
        "event_id": pa.array(eid, pa.int64()),
        "ts": pa.array([T0 + dt.timedelta(seconds=s) for s in sec],
                       pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": pa.array(et, pa.string()),
        "value": pa.array(val, pa.float64()),
        "props": pa.array(["{}"] * len(EVENTS), pa.string()),
    }), path / "events.parquet")


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("events_market")
    _write_events(path)
    return path


def test_spark_builders_match_oracle_ctes(spark, events_dir):
    trades, prices = derive_market(spark, str(events_dir))
    rt, da = derive_da_rt(spark, str(events_dir))
    con = duck_connection(str(events_dir))
    for name, cte, df in (("ticks", TICKS_CTE, prices),
                          ("trades", TRADES_CTE, trades),
                          ("rt", RT_CTE, rt), ("da", DA_CTE, da)):
        duck = con.execute(f"WITH {cte} SELECT * FROM {name}").fetchdf()
        spark_pdf = df.toPandas()
        assert len(spark_pdf) > 0, name
        assert compare(name, spark_pdf, duck), name
    # the mapping itself, on a few hand-checked rows
    t = {r.trade_id: r for r in trades.collect()}
    assert (t[1].account, t[1].hub, t[1].side, t[1].mw) == \
        ("ACC1", "HUB0", "BUY", 10)
    assert (t[9].account, t[9].hub, t[9].side, t[9].mw) == \
        ("ACC3", "HUB1", "SELL", 10)
    assert sorted(r.tick_id for r in prices.collect()
                  if r.hub == "HUB1" and r.ts == T0 + dt.timedelta(minutes=1)
                  ) == [2, 3]
    assert {r.hub for r in prices.collect()} == {"HUB0", "HUB1", "HUB2",
                                                  "HUB3", None}
    assert sorted(r.rt_id for r in rt.collect()) == [0, 3, 5, 12, 14]
    assert sorted(r.da_id for r in da.collect()) == [4, 8, 11]


_TAPE_CTES = {"ticks": TICKS_CTE, "trades": TRADES_CTE}


def _same(spark_df, events_dir, tape, sql):
    """compare() of the Spark frame and DuckDB's `sql` over `t`, the
    tape relation with its day column."""
    con = duck_connection(str(events_dir))
    duck = con.execute(f"""
        WITH {_TAPE_CTES[tape]}, t AS (SELECT *, date_trunc('day', ts) AS day
                                       FROM {tape})
        {sql}""").fetchdf()
    got = spark_df.toPandas()
    assert len(got) > 0
    return compare("tape", got, duck)


def _day(df):
    return df.withColumn("day", F.date_trunc("day", F.col("ts")))


def test_tick_tape_rules_match_renderings(spark, events_dir):
    _, prices = derive_market(spark, str(events_dir))
    rank = F.row_number().over
    got = _day(prices).select(
        "tick_id", rank(tape_window("ticks")).alias("rn"),
        rank(tape_window("ticks", "day")).alias("rn_day"),
        lagged_price("ticks", 1, "day").alias("prev_day"),
        price_change("ticks", 1).alias("d1"),
        price_change("ticks", 4).alias("d4"),
        price_change("ticks", 1, "day").alias("d1_day"),
        price_change("ticks", 4, "day").alias("d4_day"))
    assert _same(got, events_dir, "ticks", f"""
        SELECT tick_id,
               ROW_NUMBER() OVER ({tape_window_sql('ticks')}) AS rn,
               ROW_NUMBER() OVER ({tape_window_sql('ticks', 'day')})
                 AS rn_day,
               {lagged_price_sql('ticks', 1, 'day')} AS prev_day,
               {price_change_sql('ticks', 1)} AS d1,
               {price_change_sql('ticks', 4)} AS d4,
               {price_change_sql('ticks', 1, 'day')} AS d1_day,
               {price_change_sql('ticks', 4, 'day')} AS d4_day
        FROM t""")
    r = {x.tick_id: x for x in got.collect()}
    # the tied pairs in id order; a day's first tick has no previous
    assert (r[2].rn, r[3].rn, r[13].rn, r[14].rn) == (1, 2, 4, 5)
    assert (r[3].d1, r[13].d1, r[14].d1) == (0.75, 1.5, -0.5)
    assert (r[12].rn_day, r[13].rn_day, r[14].rn_day) == (3, 1, 2)
    assert (r[12].prev_day, r[13].prev_day) == (41.0, None)
    # lag 4: only HUB1's fifth tick has one; no (hub, day) has five ticks
    assert {t: x.d4 for t, x in r.items() if x.d4 is not None} == \
        {14: 44.0 - 40.25}
    assert all(x.d4_day is None for x in r.values())


def test_first_and_last_on_tape_match_renderings(spark, events_dir):
    _, prices = derive_market(spark, str(events_dir))
    got = _day(prices).groupBy("hub", "day").agg(
        open_price().alias("open"), close_price().alias("close"))
    assert _same(got, events_dir, "ticks", f"""
        SELECT hub, day, {OPEN_PRICE_SQL} AS open, {CLOSE_PRICE_SQL} AS close
        FROM t GROUP BY hub, day""")
    hub1 = {x.day.day: (x.open, x.close) for x in got.collect()
            if x.hub == "HUB1"}
    assert hub1 == {1: (40.25, 43.0), 2: (44.5, 44.0)}


def test_trade_tape_rules_match_renderings(spark, events_dir):
    trades, _ = derive_market(spark, str(events_dir))
    rank = F.row_number().over
    got = _day(trades).select(
        "trade_id", "side", rank(tape_window("trades")).alias("rn"),
        rank(tape_window("trades", "account")).alias("rn_acc"),
        price_change("trades", 1).alias("d1"),
        price_change("trades", 1, "day").alias("d1_day"),
        signed_mw().alias("signed"))
    assert _same(got, events_dir, "trades", f"""
        SELECT trade_id, side,
               ROW_NUMBER() OVER ({tape_window_sql('trades')}) AS rn,
               ROW_NUMBER() OVER ({tape_window_sql('trades', 'account')})
                 AS rn_acc,
               {price_change_sql('trades', 1)} AS d1,
               {price_change_sql('trades', 1, 'day')} AS d1_day,
               {SIGNED_MW_SQL} AS signed
        FROM t""")
    r = {x.trade_id: x for x in got.collect()}
    assert (r[9].rn, r[10].rn, r[16].rn, r[17].rn) == (1, 2, 4, 5)
    assert (r[10].d1, r[15].d1_day, r[16].d1_day) == (3.0, None, 1.0)
    assert (r[10].rn_acc, r[15].rn_acc, r[17].rn_acc) == (1, 2, 3)
    # BUY +mw, SELL -mw (trade 9: event_id % 4 == 1 -> 10 MW)
    assert (r[9].side, r[9].signed) == ("SELL", -10)
    assert (r[10].side, r[10].signed) == ("BUY", 25)


def test_notional_and_vwap_match_renderings(spark, events_dir):
    trades, _ = derive_market(spark, str(events_dir))
    got = trades.groupBy("hub").agg(notional().alias("notional"),
                                    vwap().alias("vwap"))
    assert _same(got, events_dir, "trades", f"""
        SELECT hub, {NOTIONAL_SQL} AS notional, {VWAP_SQL} AS vwap
        FROM t GROUP BY hub""")
    # HUB0: trades 1 (10 MW at 51.5), 8 (5 at 52.0), 11 (50 at 49.0)
    r = {x.hub: x for x in got.collect()}
    assert (r["HUB0"].notional, r["HUB0"].vwap) == (3225.0, 3225.0 / 65)


def test_ohlc_bars_match_oracle_with_null_hub(spark, events_dir):
    # both engines group the hub-less tick into a bar of its own
    got = queries()["ohlc_bars"](spark, str(events_dir)).toPandas()
    con = duck_connection(str(events_dir))
    duck = con.execute(oracle_sql()["ohlc_bars"]).fetchdf()
    assert compare("ohlc_bars", got, duck)
    bar = got[got.hub.isna()]
    assert (len(bar), bar.open.item(), bar.close.item()) == (1, 55.0, 55.0)
