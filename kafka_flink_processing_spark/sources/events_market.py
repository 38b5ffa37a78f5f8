"""THE one events -> market derivation (FIXTURES.md §B).

The reference has two market topics, `prices` and `trades` (producer.py,
PnlAndExposureJob.java), plus the day-ahead/real-time pair behind its
DA-vs-RT comparison (producer_da_rt.py, README.md:98-100). The engine
rebuilds all of them from the `events` testdata table by one fixed
mapping:

- hub     = 'HUB' || user_id % 4
- account = 'ACC' || (user_id % 3 + 1)
- price ticks (topic `prices`) = view/click events, price_mwh = value,
  tick_id = event_id (the tie-break between ticks sharing (hub, ts))
- trades (topic `trades`) = purchase/signup/error events: purchase/signup
  BUY, error SELL; mw = 5/10/25/50 by event_id % 4; price_mwh = value
- real-time prints = view events (rt_id, lmp_rt); day-ahead prints =
  signup events (da_id, lmp_da)

Every query over the market relations reads them from here: the Spark
builders (derive_market, derive_da_rt) and the DuckDB oracle CTEs
(TICKS_CTE, TRADES_CTE, RT_CTE, DA_CTE) sit side by side so the two
renderings cannot drift — the same posture as operators/sessionize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_processing_spark.sources.parquet import load_table

_PRICE_TYPES = ("view", "click")
_TRADE_TYPES = ("purchase", "signup", "error")
_BUY_TYPES = ("purchase", "signup")
_RT_TYPE = "view"
_DA_TYPE = "signup"


def _hub() -> F.Column:
    return F.concat(F.lit("HUB"), (F.col("user_id") % 4).cast("string"))


def derive_market(spark: SparkSession,
                  sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(trades, prices) shaped like the reference topics (schemas.TRADE/
    PRICE_TICK), deterministically derived from events."""
    ev = load_table(spark, "events", sf_dir)
    hub = _hub()
    trades = (ev.filter(F.col("event_type").isin(*_TRADE_TYPES))
                .select(F.col("event_id").alias("trade_id"),
                        "ts",
                        F.concat(F.lit("ACC"), (F.col("user_id") % 3 + 1)
                                 .cast("string")).alias("account"),
                        hub.alias("hub"),
                        F.when(F.col("event_type").isin(*_BUY_TYPES),
                               "BUY").otherwise("SELL").alias("side"),
                        F.when(F.col("event_id") % 4 == 0, 5)
                         .when(F.col("event_id") % 4 == 1, 10)
                         .when(F.col("event_id") % 4 == 2, 25)
                         .otherwise(50).alias("mw"),
                        F.col("value").alias("price_mwh")))
    prices = (ev.filter(F.col("event_type").isin(*_PRICE_TYPES))
                .select("ts", hub.alias("hub"),
                        F.col("value").alias("price_mwh"),
                        # tick tie-break: two ticks can share (hub, ts);
                        # without an id the fold's "last price" is
                        # partition-order-dependent (r8 events fuzzer)
                        F.col("event_id").alias("tick_id")))
    return trades, prices


def derive_da_rt(spark: SparkSession,
                 sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(rt, da): the dense real-time prints (rt_id, hub, ts, lmp_rt) and
    the sparse day-ahead prints (hub, ts, lmp_da, da_id), da_id being the
    tie-break between DA prints sharing (hub, ts)."""
    ev = load_table(spark, "events", sf_dir)
    hub = _hub()
    rt = (ev.filter(F.col("event_type") == _RT_TYPE)
            .select(F.col("event_id").alias("rt_id"), hub.alias("hub"),
                    "ts", F.col("value").alias("lmp_rt")))
    da = (ev.filter(F.col("event_type") == _DA_TYPE)
            .select(hub.alias("hub"), "ts",
                    F.col("value").alias("lmp_da"),
                    F.col("event_id").alias("da_id")))
    return rt, da


# ---- the DuckDB renderings: CTE fragments over the `events` view, each
# `name AS (...)`, for an oracle's WITH list ----------------------------

def _in(types: tuple[str, ...]) -> str:
    return ", ".join(f"'{t}'" for t in types)


_SQL_HUB = "'HUB' || CAST(user_id % 4 AS VARCHAR)"

# (tick_id, ts, hub, price_mwh) — derive_market's prices
TICKS_CTE = f"""
  ticks AS (SELECT event_id AS tick_id, ts, {_SQL_HUB} AS hub,
                   value AS price_mwh
            FROM events WHERE event_type IN ({_in(_PRICE_TYPES)}))
"""

# (trade_id, ts, account, hub, side, mw, price_mwh) — derive_market's trades
TRADES_CTE = f"""
  trades AS (SELECT event_id AS trade_id, ts,
                    'ACC' || CAST(user_id % 3 + 1 AS VARCHAR) AS account,
                    {_SQL_HUB} AS hub,
                    CASE WHEN event_type IN ({_in(_BUY_TYPES)})
                         THEN 'BUY' ELSE 'SELL' END AS side,
                    CASE event_id % 4 WHEN 0 THEN 5 WHEN 1 THEN 10
                                      WHEN 2 THEN 25 ELSE 50 END AS mw,
                    value AS price_mwh
             FROM events WHERE event_type IN ({_in(_TRADE_TYPES)}))
"""

# (rt_id, hub, ts, lmp_rt) — derive_da_rt's rt
RT_CTE = f"""
  rt AS (SELECT event_id AS rt_id, {_SQL_HUB} AS hub, ts, value AS lmp_rt
         FROM events WHERE event_type = '{_RT_TYPE}')
"""

# (hub, ts, lmp_da, da_id) — derive_da_rt's da
DA_CTE = f"""
  da AS (SELECT {_SQL_HUB} AS hub, ts, value AS lmp_da, event_id AS da_id
         FROM events WHERE event_type = '{_DA_TYPE}')
"""
