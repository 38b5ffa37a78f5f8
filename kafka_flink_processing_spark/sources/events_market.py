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

The tape rules sit beside them, each a Spark builder with its DuckDB
rendering (tests/test_events_market.py compares each pair). Each hub's
tape (ticks or trades) is in (ts, id) order: the tape's own id breaks
ties between events at one ts, so every lag, running value and rank on
it is partition-order-free. The rules: the tape window (`by` adds
partition keys), the open and close tick price, price lags and changes,
signed MW, notional and VWAP.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from kafka_flink_processing_spark.functions.exact import dsum, dsum_sql
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


# ---- the tape rules ------------------------------------------------

_TAPE_ID = {"ticks": "tick_id", "trades": "trade_id"}


def tape_window(tape: str, *by: str) -> WindowSpec:
    """The hub's `tape` ("ticks" or "trades") in (ts, id) order."""
    return Window.partitionBy("hub", *by).orderBy("ts", _TAPE_ID[tape])


def tape_window_sql(tape: str, *by: str) -> str:
    """The window spec, for `OVER (...)` or `WINDOW w AS (...)`."""
    return (f"PARTITION BY {', '.join(('hub', *by))}"
            f" ORDER BY ts, {_TAPE_ID[tape]}")


def open_price() -> Column:
    """Aggregate: the price of the group's first tick on the tape."""
    return F.min_by("price_mwh", F.struct(F.col("ts"), F.col("tick_id")))


def close_price() -> Column:
    """Aggregate: the price of the group's last tick on the tape."""
    return F.max_by("price_mwh", F.struct(F.col("ts"), F.col("tick_id")))


OPEN_PRICE_SQL = "first(price_mwh ORDER BY ts, tick_id)"
CLOSE_PRICE_SQL = "last(price_mwh ORDER BY ts, tick_id)"


def lagged_price(tape: str, k: int = 1, *by: str) -> Column:
    """price_mwh k events back on the tape (NULL for the first k)."""
    return F.lag("price_mwh", k).over(tape_window(tape, *by))


def lagged_price_sql(tape: str, k: int = 1, *by: str) -> str:
    return f"LAG(price_mwh, {k}) OVER ({tape_window_sql(tape, *by)})"


def price_change(tape: str, k: int = 1, *by: str) -> Column:
    """price_mwh minus the price k events back on the tape."""
    return F.col("price_mwh") - lagged_price(tape, k, *by)


def price_change_sql(tape: str, k: int = 1, *by: str) -> str:
    return f"(price_mwh - {lagged_price_sql(tape, k, *by)})"


def signed_mw() -> Column:
    """+mw for BUY, -mw for SELL (PnlAndExposureJob.java:116)."""
    return F.when(F.col("side") == "BUY", F.col("mw")).otherwise(-F.col("mw"))


SIGNED_MW_SQL = "CASE WHEN side = 'BUY' THEN mw ELSE -mw END"


def notional() -> Column:
    """Aggregate: the exact traded notional Σ mw·price_mwh at 2dp."""
    return dsum(F.col("mw") * F.col("price_mwh"), 2)


def vwap() -> Column:
    """Aggregate: the notional over the integer Σ mw."""
    return notional() / F.sum("mw")


NOTIONAL_SQL = dsum_sql("mw * price_mwh", 2)
VWAP_SQL = f"{NOTIONAL_SQL} / CAST(SUM(mw) AS BIGINT)"
