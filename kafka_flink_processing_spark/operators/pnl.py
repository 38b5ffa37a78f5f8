"""Distributed PnL/position fold (W2) — batch form.

The reference computes per-account positions and PnL in a
KeyedCoProcessFunction keyed by hub (PnlAndExposureJob.java:50-51,106-144).
The path-dependent netting (realized PnL depends on the running position's
sign) is not expressible in SQL window algebra (SURVEY.md §4.2), so this is
the one operator that runs Python. Two batch forms, bit-identical by test:

- pnl_positions: the reference's shape — one hash shuffle on hub (exactly
  Flink's keyBy), then an Arrow-batched per-hub ordered fold via
  applyInPandas; fold parallelism = #hubs, per-hub state is O(#accounts
  on that hub). Input order within a group is NOT guaranteed by
  applyInPandas; fold_hub sorts each group by the documented total order.
- pnl_positions_hybrid: the scale path with no per-hub serial unit —
  Python folds only the sparse trade stream per (hub, account), and the
  price -> every-account fan-out (reference :134-137, superlinear output
  ~ticks x accounts) is JVM window algebra.

fold_hub is the one emission loop: pnl_positions and both streaming state
APIs (streaming/stateful.py) call it. netting.replay stays a separate,
dict-per-row implementation of the same semantics — the executable spec the
differential tests compare against.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_processing_spark.operators.netting import (
    PRICE,
    TRADE,
    apply_fill,
)

# positions_pnl rows, as every fold (batch and streaming) emits them
PNL_OUT_SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("account", T.StringType()),
    T.StructField("hub", T.StringType()),
    T.StructField("position_mw", T.IntegerType()),
    T.StructField("avg_price_mwh", T.DoubleType()),
    T.StructField("last_price_mwh", T.DoubleType()),
    T.StructField("realized_pnl", T.DoubleType()),
    T.StructField("unrealized_pnl", T.DoubleType()),
    T.StructField("total_pnl", T.DoubleType()),
])


def fold_hub(pdf: pd.DataFrame, last_price: float | None = None,
             accounts: dict | None = None
             ) -> tuple[pd.DataFrame, float | None, dict]:
    """Fold one hub's trade/price events (the tagged_events columns) into
    positions_pnl rows, starting from the carried state (last_price,
    accounts: account -> (pos, avg, realized), in first-trade order).
    Returns (rows, last_price, accounts) — the end state seeds the next
    call, so folding a prefix and then the rest equals one fold over all.

    The events are sorted once into the documented (ts, kind, trade_id)
    total order, so callers pass every row of the key at once: sorting
    Arrow chunks separately would fold them in the wrong order. Same
    apply_fill calls and emission arithmetic as the spec
    (netting.py::replay), plumbed column-wise: one list per column in and
    out instead of a dict per row, which dominated the stage's Python
    time. Output is bit-identical to the spec (tests/test_pnl.py)."""
    pdf = pdf.sort_values(["ts", "kind", "trade_id"], kind="mergesort")
    accounts = dict(accounts or {})  # insertion order = fan-out order
    ts_l = pdf["ts"].tolist()
    hub_l = pdf["hub"].tolist()
    acct_l = pdf["account"].tolist()
    side_l = pdf["side"].tolist()
    mw_l = pdf["mw"].tolist()
    px_l = pdf["price_mwh"].tolist()
    kind_l = pdf["kind"].tolist()
    o_ts: list = []
    o_acct: list = []
    o_hub: list = []
    o_pos: list = []
    o_avg: list = []
    o_last: list = []
    o_rlz: list = []
    o_unrl: list = []
    o_tot: list = []
    for i in range(len(ts_l)):
        if kind_l[i] == TRADE:
            acct = acct_l[i]
            pos, avg, rlz = accounts.get(acct, (0, 0.0, 0.0))
            mw = mw_l[i]
            signed = mw if side_l[i].upper() == "BUY" else -mw
            st = apply_fill(pos, avg, rlz, signed, px_l[i])
            accounts[acct] = st
            # cold start: no tick yet -> the trade's own price (reference :130)
            px = last_price if last_price is not None else px_l[i]
            unrl = st[0] * (px - st[1])
            o_ts.append(ts_l[i]); o_acct.append(acct); o_hub.append(hub_l[i])
            o_pos.append(st[0]); o_avg.append(st[1]); o_last.append(px)
            o_rlz.append(st[2]); o_unrl.append(unrl)
            o_tot.append(st[2] + unrl)
        else:
            last_price = px_l[i]
            hub = hub_l[i]
            ts = ts_l[i]
            # fan-out: one row per account seen on this hub (reference
            # :134-137), in first-trade order like HubFold.process
            for acct, (pos, avg, rlz) in accounts.items():
                unrl = pos * (last_price - avg)
                o_ts.append(ts); o_acct.append(acct); o_hub.append(hub)
                o_pos.append(pos); o_avg.append(avg); o_last.append(last_price)
                o_rlz.append(rlz); o_unrl.append(unrl)
                o_tot.append(rlz + unrl)
    if not o_ts:
        # e.g. an all-price hub with no trades. Empty typed lists would
        # give ts a float64 dtype Arrow cannot cast to timestamp; the
        # all-object empty frame converts cleanly.
        rows = pd.DataFrame(columns=PNL_OUT_SCHEMA.fieldNames())
    else:
        rows = pd.DataFrame({
            "ts": o_ts, "account": o_acct, "hub": o_hub, "position_mw": o_pos,
            "avg_price_mwh": o_avg, "last_price_mwh": o_last,
            "realized_pnl": o_rlz, "unrealized_pnl": o_unrl,
            "total_pnl": o_tot,
        })
    return rows, last_price, accounts


def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
    """One hub's replay from empty state (the applyInPandas body of
    pnl_positions)."""
    return fold_hub(pdf)[0]


def _tick_seq(prices: DataFrame):
    return (F.col("tick_id") if "tick_id" in prices.columns
            else F.lit(0)).cast("long")


def _trade_events(trades: DataFrame) -> DataFrame:
    return trades.select(
        F.col("ts"), F.col("hub"), F.col("account"), F.col("side"),
        F.col("mw").cast("long"), F.col("price_mwh"),
        F.col("trade_id").cast("long"), F.lit(TRADE).alias("kind"))


def tagged_events(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """The reference's two keyed inputs as one tagged stream — the rows
    fold_hub folds: ts, hub, account, side, mw, price_mwh, trade_id, kind.

    trades: trade_id, ts, account, hub, side, mw, price_mwh
    prices: ts, hub, price_mwh[, tick_id]
    """
    p = prices.select(
        F.col("ts"), F.col("hub"),
        F.lit(None).cast("string").alias("account"),
        F.lit(None).cast("string").alias("side"),
        F.lit(None).cast("long").alias("mw"),
        F.col("price_mwh"),
        # tick_id is the same-ts tick tie-break; price sources without
        # one leave same-ts ticks in arbitrary order
        _tick_seq(prices).alias("trade_id"),
        F.lit(PRICE).alias("kind"))
    return _trade_events(trades).unionByName(p)


def pnl_positions(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """Replay trades+prices into positions_pnl rows (reference semantics).

    trades: trade_id, ts, account, hub, side, mw, price_mwh
    prices: ts, hub, price_mwh
    """
    from kafka_flink_processing_spark.shipping import ensure_shipped
    ensure_shipped(trades.sparkSession)
    return (tagged_events(trades, prices).groupBy("hub")
            .applyInPandas(_fold, PNL_OUT_SCHEMA))


def _carried_entry_price(grid: DataFrame, prices: DataFrame,
                         day_col: str) -> DataFrame:
    """Per-(hub, day) strictly-before price carry: each day's closing tick
    price (max_by over tick (ts, seq)), forward-filled across the hub's day
    grid EXCLUDING the current day — the last price a day's first event
    sees.

    grid: (hub, <day_col>) rows; prices: (ts, hub, price_mwh[, tick_id]).
    Returns (hub, <day_col>, entry_px) with entry_px null before the first
    tick."""
    day_close = (prices.groupBy("hub", F.to_date("ts").alias(day_col))
                 .agg(F.max_by("price_mwh",
                               F.struct("ts", _tick_seq(prices)
                                        .alias("__seq")))
                      .alias("day_close_px")))
    w_ff = (Window.partitionBy("hub").orderBy(day_col)
            .rowsBetween(Window.unboundedPreceding, -1))
    return (grid.join(day_close, ["hub", day_col], "left")
            .select("hub", day_col,
                    F.last("day_close_px", ignorenulls=True).over(w_ff)
                     .alias("entry_px")))


def price_exposure(pnl: DataFrame) -> DataFrame:
    """Exposure projection P4 (reference PnlAndExposureJob.java:65-69):
    pnl01 = $ PnL for a $1 move = position_mw; notional = position * last."""
    return pnl.select(
        "ts", "account", "hub", "position_mw", "last_price_mwh",
        F.col("position_mw").cast("double").alias("pnl01"),
        (F.col("position_mw") * F.col("last_price_mwh")).alias("notional_usd"))


_TRADE_STATE_SCHEMA = ("ts timestamp, trade_id long, hub string, "
                       "account string, st_pos long, st_avg double, "
                       "st_realized double, trade_px double")


def _trade_states(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (hub, account) group: fold ONLY this account's trades in total
    order, emitting the post-fill state after EVERY trade (the sparse
    artifact both emission passes of pnl_positions_hybrid attach
    relationally)."""
    pdf = pdf.sort_values(["ts", "kind", "trade_id"], kind="mergesort")
    state = (0, 0.0, 0.0)
    side_l = pdf["side"].tolist()
    mw_l = pdf["mw"].tolist()
    px_l = pdf["price_mwh"].tolist()
    # column-wise plumbing, same apply_fill sequence (see fold_hub)
    o_pos: list = []
    o_avg: list = []
    o_rlz: list = []
    for i in range(len(side_l)):
        signed = mw_l[i] if side_l[i].upper() == "BUY" else -mw_l[i]
        state = apply_fill(state[0], state[1], state[2], signed, px_l[i])
        o_pos.append(int(state[0]))
        o_avg.append(state[1])
        o_rlz.append(state[2])
    return pd.DataFrame({
        "ts": pdf["ts"].tolist(), "trade_id": pdf["trade_id"].tolist(),
        "hub": pdf["hub"].tolist(), "account": pdf["account"].tolist(),
        "st_pos": o_pos, "st_avg": o_avg, "st_realized": o_rlz,
        "trade_px": px_l,
    })


def pnl_positions_hybrid(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """W2 replay with Python restricted to the SPARSE stream: bit-identical
    output to pnl_positions (asserted in tests/test_pnl.py), but the only
    Arrow stage is the per-(hub, account) trade fold — the price-tick
    fan-out (the superlinear ticks x accounts output that dominates cost)
    is pure JVM window algebra inside whole-stage codegen.

    Decomposition:
    - Python fold (_trade_states): path-dependent netting over trades only
      — position/avg/realized change ONLY on trades, so this is the entire
      non-SQL-expressible core; parallelism = hubs x accounts.
    - Trade emission rows: the fold's own state rows + the hub's last tick
      price via one per-hub ordered window over the tagged union (ticks
      sort AFTER trades at equal ts — kind 0 < 1 — which yields exactly
      the fold's strict 'ticks seen before the trade' semantics); cold
      start falls back to the trade's own price (reference :130).
    - Tick emission rows: fan ticks out to the hub's (tiny, distinct)
      account list, then attach each account's state as-of the tick with
      one per-(hub, account) ordered window (trades at equal ts sort
      BEFORE the tick, so same-ts trades are visible — the fold's
      semantics); accounts with no state yet emit nothing.

    Scale: every dense structure (tick stream, fan-out output) stays
    JVM-side; shuffles are (hub, day) (pass 1), (hub, account) (fold +
    pass 2) — all linear in data volume, and no per-hub serialization
    anywhere: pass 1 is day-keyed with the cross-day price carry computed
    relationally (per-day closing tick, forward-filled over the tiny
    hub x day grid — _carried_entry_price). Re-key pass 2 to (hub,
    account, epoch) the same way if a single account's tick fan-out ever
    outgrows a task.
    """
    from kafka_flink_processing_spark.shipping import ensure_shipped
    ensure_shipped(trades.sparkSession)
    t = _trade_events(trades)
    states = (t.groupBy("hub", "account")
               .applyInPandas(_trade_states, _TRADE_STATE_SCHEMA)).cache()
    # Eager prime: both emission passes read the state table inside one
    # job and would otherwise race the cold cache and run the Arrow fold
    # twice (the BENCH_r02 signature-cache pathology). With the prime the
    # sparse Python fold executes exactly once per run — the design goal.
    states.count()

    # ---- pass 1: trade emission (last tick price strictly before trade).
    # Day-keyed, not per-hub: the within-day window runs per (hub, day) —
    # parallelism hubs x days, no hot-hub serialization — and the
    # cross-day carry is relational (per-day closing tick price,
    # forward-filled over the tiny hub x day grid).
    day = F.to_date("ts").alias("day")
    st_tagged = states.select(
        "ts", "trade_id", "hub", "account", "st_pos", "st_avg",
        "st_realized", "trade_px",
        F.lit(None).cast("double").alias("tick_px"),
        F.lit(TRADE).alias("kind"), day)
    px_tagged = prices.select(
        "ts", _tick_seq(prices).alias("trade_id"), "hub",
        F.lit(None).cast("string").alias("account"),
        F.lit(None).cast("long").alias("st_pos"),
        F.lit(None).cast("double").alias("st_avg"),
        F.lit(None).cast("double").alias("st_realized"),
        F.lit(None).cast("double").alias("trade_px"),
        F.col("price_mwh").alias("tick_px"),
        F.lit(PRICE).alias("kind"), day)
    u0 = st_tagged.unionByName(px_tagged)
    # day grid from the RAW inputs (not u0): the states subtree must not be
    # recomputed just to enumerate days — trades carry exactly the states'
    # timestamps, so the day set is identical
    grid = (t.select("hub", F.to_date("ts").alias("day"))
            .unionByName(prices.select("hub", F.to_date("ts").alias("day")))
            .distinct())
    entry = _carried_entry_price(grid, prices, "day")
    w1 = (Window.partitionBy("hub", "day").orderBy("ts", "kind", "trade_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    u1 = (u0.withColumn("day_px", F.last("tick_px", ignorenulls=True).over(w1))
          .join(F.broadcast(entry), ["hub", "day"]))
    last1 = F.coalesce("day_px", "entry_px", "trade_px")
    unreal1 = F.col("st_pos") * (last1 - F.col("st_avg"))
    trade_rows = (u1.filter(F.col("kind") == TRADE)
                  .select("ts", "account", "hub",
                          F.col("st_pos").cast("int").alias("position_mw"),
                          F.col("st_avg").alias("avg_price_mwh"),
                          last1.alias("last_price_mwh"),
                          F.col("st_realized").alias("realized_pnl"),
                          unreal1.alias("unrealized_pnl"),
                          (F.col("st_realized") + unreal1).alias("total_pnl")))

    # ---- pass 2: tick fan-out (state as-of tick, same-ts trades visible)
    accounts = t.select("hub", "account").distinct()
    probes = (prices.join(accounts, "hub")
              .select("ts", F.lit(0).cast("long").alias("trade_id"),
                      "hub", "account",
                      F.lit(None).cast("long").alias("st_pos"),
                      F.lit(None).cast("double").alias("st_avg"),
                      F.lit(None).cast("double").alias("st_realized"),
                      F.col("price_mwh").alias("tick_px"),
                      F.lit(PRICE).alias("kind")))
    st2 = states.select("ts", "trade_id", "hub", "account", "st_pos",
                        "st_avg", "st_realized",
                        F.lit(None).cast("double").alias("tick_px"),
                        F.lit(TRADE).alias("kind"))
    w2 = (Window.partitionBy("hub", "account")
          .orderBy("ts", "kind", "trade_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    u2 = (st2.unionByName(probes)
          .withColumn("pos_c", F.last("st_pos", ignorenulls=True).over(w2))
          .withColumn("avg_c", F.last("st_avg", ignorenulls=True).over(w2))
          .withColumn("rlz_c", F.last("st_realized", ignorenulls=True).over(w2)))
    unreal2 = F.col("pos_c") * (F.col("tick_px") - F.col("avg_c"))
    tick_rows = (u2.filter((F.col("kind") == PRICE)
                           & F.col("pos_c").isNotNull())
                 .select("ts", "account", "hub",
                         F.col("pos_c").cast("int").alias("position_mw"),
                         F.col("avg_c").alias("avg_price_mwh"),
                         F.col("tick_px").alias("last_price_mwh"),
                         F.col("rlz_c").alias("realized_pnl"),
                         unreal2.alias("unrealized_pnl"),
                         (F.col("rlz_c") + unreal2).alias("total_pnl")))
    return trade_rows.unionByName(tick_rows)
