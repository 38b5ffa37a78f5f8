"""The events -> market derivation (sources/events_market.py): the Spark
builders and the DuckDB CTEs over one hand `events` table must return
the same relations, compared the way the oracle gate compares."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_flink_processing_spark.sources.events_market import (
    DA_CTE,
    RT_CTE,
    TICKS_CTE,
    TRADES_CTE,
    derive_da_rt,
    derive_market,
)
from tools.oracle_check import compare, duck_connection

T0 = dt.datetime(2024, 1, 1)

# (event_id, seconds after T0, user_id, event_type, value). Users 0..5
# cover every hub (user_id % 4) and every account (user_id % 3 + 1);
# events 2 and 3 are two ticks at the same ts on HUB1.
EVENTS = [
    (0, 0, 0, "view", 50.0),
    (1, 0, 0, "purchase", 51.5),
    (2, 60, 1, "click", 40.25),
    (3, 60, 5, "view", 41.0),
    (4, 120, 2, "signup", 60.0),
    (5, 120, 2, "view", 61.0),
    (6, 180, 3, "error", 70.0),
    (7, 180, 3, "click", 69.5),
    (8, 240, 4, "signup", 52.0),
    (9, 300, 5, "error", 39.0),
    (10, 300, 1, "purchase", 42.0),
    (11, 360, 0, "signup", 49.0),
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


def test_spark_builders_match_oracle_ctes(spark, tmp_path):
    _write_events(tmp_path)
    trades, prices = derive_market(spark, str(tmp_path))
    rt, da = derive_da_rt(spark, str(tmp_path))
    con = duck_connection(str(tmp_path))
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
                                                  "HUB3"}
    assert sorted(r.rt_id for r in rt.collect()) == [0, 3, 5]
    assert sorted(r.da_id for r in da.collect()) == [4, 8, 11]
