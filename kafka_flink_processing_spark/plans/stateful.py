"""Stateful-analytics queries (SURVEY.md §2.3) instantiated on `events`.

`events(event_id, ts, user_id, event_type, value, props)` stands in for the
reference's keyed price stream: user_id ~ hub key, value ~ price_mwh, ts the
event time, event_id the deterministic tie-breaker (the reference has no
watermarks — SURVEY.md §2.6 — so a documented total order replaces its
arrival-order nondeterminism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.exact import (
    MIDDLE_RANKS_SQL,
    dsum,
    dsum_sql,
    middle_mean,
    middle_mean_sql,
    middle_ranks,
    percentile_disc,
    percentile_disc_sql,
    ranked_sql,
    with_ranks,
)
from kafka_flink_processing_spark.operators.asof import carried_sql
from kafka_flink_processing_spark.operators.pnl import price_exposure
from kafka_flink_processing_spark.operators.windows import (
    SMA_LONG,
    SMA_SHORT,
    lag_chain_avg_sql,
    last_value_carried_forward,
    latest_per_key,
    rolling_sma_forecast,
    top_k,
)
from kafka_flink_processing_spark.plans.registry import register
from kafka_flink_processing_spark.sources.events_market import (
    SIGNED_MW_SQL,
    TICKS_CTE,
    TRADES_CTE,
    derive_market,
    signed_mw,
    tape_window,
    tape_window_sql,
)
from kafka_flink_processing_spark.sources.parquet import load_table


# --- W1: rolling SMA(5)/SMA(20) forecast (reference ForecastsJob.java:76-88)
@register(
    "forecast_sma",
    oracle=f"""
    SELECT event_id, ts, user_id, value,
           {lag_chain_avg_sql('value', SMA_SHORT)} AS sma5,
           {lag_chain_avg_sql('value', SMA_LONG)} AS sma20,
           {lag_chain_avg_sql('value', SMA_SHORT)} AS forecast_next
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="W1 rolling SMA(5)/SMA(20) + forecast_next per key; emits every row, "
        "warm-up averages over fewer rows (ForecastsJob.java:86-87).",
    bench=True,
)
def forecast_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    out = rolling_sma_forecast(events, ["user_id"], ["ts", "event_id"], "value")
    return out.select("event_id", "ts", "user_id", "value",
                      "sma5", "sma20", "forecast_next")


# --- W4: last-value carried forward (reference PnlAndExposureJob.java:130,134-136)
@register(
    "last_value_carried_forward",
    oracle=f"""
    SELECT event_id, ts, event_type, value,
           {carried_sql('value', ['event_type'], ['ts', 'event_id'])}
             AS last_value
    FROM events
    """,
    doc="W4 running last value per key (ValueState lastPrice analogue).",
)
def lvcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    out = last_value_carried_forward(events, ["event_type"], ["ts", "event_id"],
                                     "value")
    return out.select("event_id", "ts", "event_type", "value", "last_value")


# --- read-side: latest snapshot per key (reference README.md:92-96 DISTINCT ON)
@register(
    "latest_per_key",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM (
      SELECT event_id, ts, user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="read-side latest-per-key snapshot (DISTINCT ON, README.md:92-96).",
    bench=True,
)
def latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    out = latest_per_key(events, ["user_id"], ["ts", "event_id"])
    return out.select("event_id", "ts", "user_id", "event_type", "value")


# --- read-side: top-k most recent (reference README.md:86 ORDER BY ts DESC LIMIT 8)
@register(
    "topk_recent",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 8
    """,
    doc="read-side latest-n rows (README.md:86); TakeOrderedAndProject plan.",
)
def topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    out = top_k(events, ["ts", "event_id"], 8, desc=True)
    return out.select("event_id", "ts", "user_id", "event_type", "value")


# --- W2/W3: the PnL fold as a recursive CTE. The netting transition
# (operators/netting.py::apply_fill) is per-step algebraic, so per-(hub,
# account) trade states advance one rank per iteration with the same IEEE
# double expressions the pandas fold evaluates; both emission families
# (post-fill trade rows, tick mark-to-market fan-out rows) attach
# relationally. Ties at one ts follow the tapes' ids: trades replay in
# (ts, trade_id) order; a trade marks against the last tick strictly
# before its ts, the greatest tick_id among ticks there (last_tick); a
# tick marks each account on its hub with the state after the account's
# last trade at or before its ts. Bit-exact against the Spark fold at
# sf0.001/0.01/0.1 and on the events_ties fuzz corpus (1-6 events per ts).
_PNL_REPLAY_SQL = f"""
WITH RECURSIVE {TRADES_CTE},
{TICKS_CTE},
seq AS MATERIALIZED (
  SELECT trade_id, ts, account, hub,
         {SIGNED_MW_SQL} AS q, price_mwh AS px,
         ROW_NUMBER() OVER ({tape_window_sql('trades', 'account')}) AS rn
  FROM trades),
st AS MATERIALIZED (
  SELECT hub, account, 0 AS rn, CAST(0 AS BIGINT) AS pos,
         CAST(0.0 AS DOUBLE) AS avg, CAST(0.0 AS DOUBLE) AS realized
  FROM (SELECT DISTINCT hub, account FROM seq)
  UNION ALL
  SELECT s.hub, s.account, t.rn,
         s.pos + t.q AS pos,
         CASE WHEN s.pos = 0 OR (s.pos > 0) = (t.q > 0)
              THEN CASE WHEN s.pos + t.q = 0 THEN 0.0
                        ELSE (ABS(s.pos) * s.avg + ABS(t.q) * t.px)
                             / ABS(s.pos + t.q) END
              ELSE CASE WHEN s.pos + t.q = 0 THEN 0.0
                        WHEN ((s.pos + t.q) > 0) = (s.pos > 0) THEN s.avg
                        ELSE t.px END END AS avg,
         CASE WHEN s.pos = 0 OR (s.pos > 0) = (t.q > 0) THEN s.realized
              ELSE s.realized
                   + LEAST(ABS(s.pos), ABS(t.q))
                     * (CASE WHEN s.pos > 0 THEN t.px - s.avg
                             ELSE s.avg - t.px END) END AS realized
  FROM st s JOIN seq t
    ON t.hub = s.hub AND t.account = s.account AND t.rn = s.rn + 1),
last_tick AS (
  SELECT hub, ts, arg_max_null(price_mwh, tick_id) AS price_mwh
  FROM ticks WHERE hub IS NOT NULL AND ts IS NOT NULL GROUP BY hub, ts),
tr_emit AS (
  SELECT t.ts, t.account, t.hub,
         s.pos AS position_mw, s.avg AS avg_price_mwh,
         COALESCE(l.price_mwh, t.px) AS last_price_mwh,
         s.realized AS realized_pnl
  FROM seq t JOIN st s
    ON s.hub = t.hub AND s.account = t.account AND s.rn = t.rn
  ASOF LEFT JOIN last_tick l ON l.hub = t.hub AND t.ts > l.ts),
stv AS (
  SELECT s.hub, s.account, t.ts AS eff_ts,
         LEAD(t.ts) OVER (PARTITION BY s.hub, s.account
                          ORDER BY s.rn) AS next_ts,
         s.pos, s.avg, s.realized
  FROM st s JOIN seq t
    ON t.hub = s.hub AND t.account = s.account AND t.rn = s.rn),
tick_emit AS (
  SELECT k.ts, v.account, k.hub,
         v.pos AS position_mw, v.avg AS avg_price_mwh,
         k.price_mwh AS last_price_mwh, v.realized AS realized_pnl
  FROM ticks k JOIN stv v
    ON v.hub = k.hub AND k.ts >= v.eff_ts
       AND (v.next_ts IS NULL OR k.ts < v.next_ts)),
pnl AS (
  SELECT ts, account, hub, CAST(position_mw AS BIGINT) AS position_mw,
         avg_price_mwh, last_price_mwh, realized_pnl,
         position_mw * (last_price_mwh - avg_price_mwh) AS unrealized_pnl,
         realized_pnl + (position_mw * (last_price_mwh - avg_price_mwh))
           AS total_pnl
  FROM (SELECT * FROM tr_emit UNION ALL SELECT * FROM tick_emit))
"""

_PNL_COLS = ("ts, account, hub, position_mw, avg_price_mwh, "
             "last_price_mwh, realized_pnl, unrealized_pnl, total_pnl")


@register(
    "pnl_positions_fold",
    oracle=f"{_PNL_REPLAY_SQL} SELECT {_PNL_COLS} FROM pnl",
    doc="W2/W3 per-account position & PnL replay (PnlAndExposureJob.java:"
        "106-144): one row per trade + one per (price tick x account seen), "
        "cold-start fallback to trade price, netting with close/flip. "
        "Oracle-gated since r6 via the recursive-CTE replay (see "
        "_PNL_REPLAY_SQL above — bit-exact at three SFs). Runs the "
        "reference-shaped per-hub fold (operators/pnl.py::pnl_positions: "
        "one hub-keyed shuffle, then the fold_hub kernel the streaming "
        "jobs also run), so fold parallelism = hub count, the reference "
        "keyBy's bound. pnl_positions_hybrid below is the scale path "
        "without that ceiling (SCALE.md §PnL).",
    bench=True,
)
def pnl_positions_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.pnl import pnl_positions
    trades, prices = derive_market(spark, sf_dir)
    return pnl_positions(trades, prices)


@register(
    "streaming_pnl_tws",
    oracle=f"{_PNL_REPLAY_SQL} SELECT {_PNL_COLS} FROM pnl",
    doc="W2 replay on Spark 4's transformWithStateInPandas — the "
        "reference-matching state layout (lastPrice ValueState + a REAL "
        "per-account MapState, PnlAndExposureJob.java:107-110) run as a "
        "stream and drained availableNow, hash-gated against the same "
        "recursive-CTE replay oracle as the batch fold. This is the "
        "driver-verifiable face of the tws port (r7 shipped it weak: the "
        "MapState read-back lost the long field — fixed r8 with typed "
        "puts, and the write set is O(touched accounts) per batch). "
        "Requires the RocksDB state-store provider (bundled rocksdbjni); "
        "the conf is set and restored around the drain. Scale: identical "
        "exchange structure to streaming_pnl (one hub-keyed shuffle), "
        "but RocksDB point puts per touched account instead of rewriting "
        "one JSON blob per hub per batch.",
)
def streaming_pnl_tws_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_multi,
    )
    from kafka_flink_processing_spark.streaming.stateful import (
        rocksdb_state_store,
        streaming_pnl_tws,
    )

    with rocksdb_state_store(spark):
        trades, prices = derive_market(spark, sf_dir)
        return drain_streaming_multi(
            {"t": trades, "p": prices},
            lambda s: streaming_pnl_tws(s["t"], s["p"]), "pnl_tws")


@register(
    "pnl_positions_hybrid",
    oracle=f"{_PNL_REPLAY_SQL} SELECT {_PNL_COLS} FROM pnl",
    doc="W2 replay, the 100 TB scale path: Python restricted to the SPARSE "
        "stream (per-(hub, account) trade fold), while the dense price-tick "
        "fan-out — the superlinear ticks x accounts output that dominates "
        "cost — is pure JVM window algebra in whole-stage codegen "
        "(operators/pnl.py::pnl_positions_hybrid). Bit-identical to "
        "pnl_positions_fold (asserted in tests/test_pnl.py at two SFs). "
        "Measured 1.1-1.9x the per-hub fold's time on 4 cores at sf0.1 "
        "x1/x4/x16, the gap narrowing with scale (one extra Arrow stage + "
        "two window passes, SCALE.md §PnL); its fold unit is (hub, "
        "account) rather than hub, and no dense row ever crosses the "
        "Python boundary.",
    bench=True,
)
def pnl_positions_hybrid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.pnl import pnl_positions_hybrid
    trades, prices = derive_market(spark, sf_dir)
    return pnl_positions_hybrid(trades, prices)


@register(
    "pnl_exposure",
    oracle=f"""{_PNL_REPLAY_SQL}
    SELECT ts, account, hub, position_mw, last_price_mwh,
           CAST(position_mw AS DOUBLE) AS pnl01,
           position_mw * last_price_mwh AS notional_usd
    FROM pnl""",
    doc="P4 exposure projection over the replay output (pnl01, notional_usd "
        "— PnlAndExposureJob.java:65-69); built on the hybrid scale path "
        "(bit-identical to the fold), so the projection fuses into its "
        "JVM emission pass.",
)
def pnl_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.pnl import pnl_positions_hybrid
    trades, prices = derive_market(spark, sf_dir)
    return price_exposure(pnl_positions_hybrid(trades, prices))


@register(
    "pnl_snapshot",
    oracle=f"""{_PNL_REPLAY_SQL}
    SELECT {_PNL_COLS} FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hub, account
                 ORDER BY ts DESC, position_mw DESC, last_price_mwh DESC)
               AS rnk FROM pnl)
    WHERE rnk = 1""",
    doc="latest PnL per (account, hub) — the reference's read-side DISTINCT "
        "ON over positions_pnl (README.md:92), snapshot-scale output; built "
        "on the hybrid scale path (bit-identical rows), WindowGroupLimit "
        "prunes the fan-out before the final exchange.",
)
def pnl_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.pnl import pnl_positions_hybrid
    from kafka_flink_processing_spark.operators.windows import latest_per_key
    trades, prices = derive_market(spark, sf_dir)
    # last_price_mwh joins the tie-break: two same-ts ticks emit rows
    # tying on (ts, position_mw) but differing in price (r8 events
    # fuzzer); rows still tying after price are identical
    return latest_per_key(pnl_positions_hybrid(trades, prices),
                          ["hub", "account"],
                          ["ts", "position_mw", "last_price_mwh"])


# --- the SQL-expressible slice of the fold: running signed position.
# Verifies the position component of W2 against the oracle exactly.
@register(
    "running_position",
    oracle=f"""
    WITH {TRADES_CTE}
    SELECT trade_id, ts, account, hub, side, mw, price_mwh,
           CAST(SUM({SIGNED_MW_SQL}) OVER (
             {tape_window_sql('trades', 'account')}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS position_mw
    FROM trades
    """,
    doc="running position = cumulative signed qty per (hub, account) — the "
        "SQL-expressible projection of W2, oracle-gated (P5 signed qty + "
        "running sum).",
)
def running_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades, _ = derive_market(spark, sf_dir)
    w = tape_window("trades", "account").rowsBetween(
        Window.unboundedPreceding, 0)
    return trades.select(
        "trade_id", "ts", "account", "hub", "side", "mw", "price_mwh",
        F.sum(signed_mw().cast("long")).over(w).alias("position_mw"))


# --- semi-structured: JSON path extraction over the props column (the
# engine equivalent of P1-P3's from_json, exercised on nested payload data)
@register(
    "json_props_stats",
    oracle="""
    WITH x AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_even
    FROM x GROUP BY event_type
    """,
    doc="semi-structured column processing: JSON path extraction "
        "(get_json_object, the row-level form of P1-P3's from_json) with "
        "typed cast, null-safe aggregation, and integer arithmetic — all "
        "JVM-side; the JSON never reaches Python.",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
              .groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.count("k").alias("n_with_k"),
                   F.sum("k").alias("sum_k"),
                   F.min("k").alias("min_k"),
                   F.max("k").alias("max_k"),
                   F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
                    .cast("long").alias("n_even")))


# --- exact median per key: the mean of the middle one/two ranks
@register(
    "median_value_by_type",
    oracle=f"""
    WITH r AS ({ranked_sql('events', ('event_type',), ('value', 'event_id'))})
    SELECT event_type, {middle_mean_sql('value')} AS median_value,
           CAST(MAX(n) AS BIGINT) AS n_rows
    FROM r WHERE {MIDDLE_RANKS_SQL}
    GROUP BY event_type
    """,
    doc="exact per-group median via rank selection (row_number + middle-"
        "element average) — deterministic and engine-portable where "
        "interpolating quantile implementations are not; one shuffle on "
        "the group key.",
)
def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    mid = (with_ranks(ev, ("event_type",), ("value", "event_id"))
           .filter(middle_ranks()))
    return (mid.groupBy("event_type")
               .agg(middle_mean("value").alias("median_value"),
                    F.max("n").cast("long").alias("n_rows")))


# --- histogram: fixed-width value buckets (codegen'd bucket expression)
@register(
    "value_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
           CAST(FLOOR(value / 10.0) AS BIGINT) * 10.0 AS bucket_lo,
           COUNT(*) AS n,
           MIN(value) AS min_in_bucket,
           MAX(value) AS max_in_bucket
    FROM events GROUP BY 1, 2
    """,
    doc="fixed-width histogram of `value` (width 10): bucket id is a "
        "codegen'd floor-div, one shuffle on the bucket — the profile "
        "primitive for data-quality monitoring at scale.",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    bucket = F.floor(F.col("value") / 10.0).cast("long")
    return (ev.groupBy(bucket.alias("bucket"))
              .agg(F.count("*").alias("n"),
                   F.min("value").alias("min_in_bucket"),
                   F.max("value").alias("max_in_bucket"))
              .select("bucket", (F.col("bucket") * 10.0).alias("bucket_lo"),
                      "n", "min_in_bucket", "max_in_bucket"))


# --- W1 in STREAMING mode, oracle-gated: the Structured Streaming stateful
# SMA (applyInPandasWithState) drained with availableNow over the same
# derived prices, hash-compared against the SAME SQL oracle as the batch
# path — demonstrating Spark's batch/streaming unified semantics as a
# verifiable property, not a claim.
_STREAM_SMA_ORACLE = f"""
    WITH {TICKS_CTE}
    SELECT ts, hub, price_mwh,
           {lag_chain_avg_sql('price_mwh', SMA_SHORT)} AS sma5,
           {lag_chain_avg_sql('price_mwh', SMA_LONG)} AS sma20,
           {lag_chain_avg_sql('price_mwh', SMA_SHORT)} AS forecast_next
    FROM ticks
    WINDOW w AS ({tape_window_sql('ticks')})
"""


def _drain_sma(spark: SparkSession, sf_dir: str, fold, name: str) -> DataFrame:
    """Drain the streaming SMA `fold` over the derived prices; its ring
    buffer folds in tape order, as the oracle window does."""
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_result,
    )

    _, prices = derive_market(spark, sf_dir)
    return drain_streaming_result(
        prices, lambda s: fold(s, seq_col="tick_id"), name).select(
            "ts", "hub", "price_mwh", "sma5", "sma20", "forecast_next")


@register(
    "streaming_forecast_sma",
    oracle=_STREAM_SMA_ORACLE,
    doc="W1 via Structured Streaming (applyInPandasWithState ring-buffer "
        "state per hub, availableNow drain) — matches the batch SQL oracle "
        "bit-for-bit (unified batch/streaming semantics).",
)
def streaming_forecast_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_sma_forecast,
    )

    return _drain_sma(spark, sf_dir, streaming_sma_forecast, "sma")


@register(
    "streaming_forecast_sma_tws",
    oracle=_STREAM_SMA_ORACLE,
    doc="W1 on Spark 4's transformWithStateInPandas — completes the "
        "state-layout parity story beside the PnL port: the reference's "
        "ListState ring buffer (ForecastsJob.java:77-81) is a REAL "
        "ListState here (bounded at 20 doubles, O(1) rewrite per hub "
        "per batch), where applyInPandasWithState had to encode it as "
        "an array column in a flat struct. Drained availableNow and "
        "hash-gated against the same lag-chain SQL oracle as the batch "
        "and applyInPandasWithState faces; stop-and-restart-from-"
        "checkpoint pinned in tests/test_streaming.py. Requires the "
        "RocksDB state store (conf set and restored around the drain).",
)
def streaming_forecast_sma_tws_q(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.stateful import (
        rocksdb_state_store,
        streaming_sma_forecast_tws,
    )

    with rocksdb_state_store(spark):
        return _drain_sma(spark, sf_dir, streaming_sma_forecast_tws,
                          "sma_tws")


# --- winsorized statistics: rank-based exact percentile bounds + clipping
@register(
    "winsorized_stats",
    oracle=f"""
    WITH r AS ({ranked_sql('events', ('event_type',), ('value', 'event_id'))}),
    bounds AS (
      SELECT event_type,
             {percentile_disc_sql(0.05, 'value')} AS p05,
             {percentile_disc_sql(0.95, 'value')} AS p95,
             CAST(MAX(n) AS BIGINT) AS n_rows
      FROM r GROUP BY event_type
    )
    SELECT e.event_type, b.p05, b.p95, b.n_rows,
           {dsum_sql('LEAST(GREATEST(e.value, b.p05), b.p95)')}
             AS winsorized_sum,
           CAST(SUM(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
    doc="winsorized (outlier-clipped) statistics per event_type: exact "
        "rank-based p05/p95 bounds (percentile_disc semantics — the value "
        "at rank ceil(p*n), deterministic and engine-portable where "
        "interpolating quantiles are not), then every value clipped into "
        "[p05, p95] and exact-summed — the outlier-robust aggregation step "
        "of metric cleaning. One window shuffle derives the bounds; the "
        "groups-sized bounds table broadcasts back onto the fact scan.",
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    bounds = (with_ranks(ev, ("event_type",), ("value", "event_id"))
              .groupBy("event_type")
              .agg(percentile_disc(0.05, "value").alias("p05"),
                   percentile_disc(0.95, "value").alias("p95"),
                   F.max("n").cast("long").alias("n_rows")))
    clipped = ev.join(F.broadcast(bounds), "event_type")
    win_val = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (clipped.groupBy("event_type", "p05", "p95", "n_rows")
            .agg(dsum(win_val).alias("winsorized_sum"),
                 F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
                  .alias("n_clipped_low"),
                 F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
                  .alias("n_clipped_high")))


# --- stream-static enrichment join: the standard Structured Streaming
# dimension-lookup pattern (stream side micro-batches, static side broadcast
# per batch — no state, no watermark needed for an inner equi-join).
@register(
    "streaming_enrich_static",
    oracle=f"""
    WITH {TICKS_CTE},
    dim AS (
      SELECT 'HUB' || CAST(n_nationkey AS VARCHAR) AS hub, n_name AS region
      FROM nation WHERE n_nationkey < 4
    )
    SELECT p.ts, p.hub, p.price_mwh, d.region
    FROM ticks p JOIN dim d ON p.hub = d.hub
    """,
    doc="stream-static dimension enrichment: the derived price stream "
        "joins the 4-row hub dimension (from nation) — Spark broadcasts "
        "the static side into every micro-batch, so the stream is "
        "enriched map-side with zero shuffle and zero state; drained "
        "with availableNow and hash-matched against the batch join "
        "oracle (unified-semantics evidence, like streaming_forecast_sma).",
)
def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_result,
    )

    _, prices = derive_market(spark, sf_dir)
    dim = (load_table(spark, "nation", sf_dir)
           .filter(F.col("n_nationkey") < 4)
           .select(F.concat(F.lit("HUB"),
                            F.col("n_nationkey").cast("string")).alias("hub"),
                   F.col("n_name").alias("region")))
    return drain_streaming_result(
        prices,
        lambda s: s.join(F.broadcast(dim), "hub")
                   .select("ts", "hub", "price_mwh", "region"),
        "enrich")


# --- streaming SESSION windows (complete-mode drain): F.session_window's
# merge semantics (window = [first_ts, last_ts + gap); a tick exactly `gap`
# after the previous one opens a NEW session because the interval is
# half-open) pinned against the lag+cumsum islands formulation in SQL.
@register(
    "streaming_session_stats",
    oracle=f"""
    WITH {TICKS_CTE},
    o AS (
      SELECT hub, ts, price_mwh, tick_id,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                          > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      -- tape order: ordered by ts alone, a non-boundary row tied with
      -- a boundary row could sort BEFORE it and join the previous session
      FROM ticks WINDOW w AS ({tape_window_sql('ticks')})
    ), s AS (
      SELECT *, SUM(is_new) OVER (
               {tape_window_sql('ticks')}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o
    )
    SELECT hub,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_ticks,
           {dsum_sql('price_mwh')} AS sum_price
    FROM s GROUP BY hub, sid
    """,
    doc="30-min-gap session windows over the streaming price feed "
        "(F.session_window in a Structured Streaming aggregation, drained "
        "availableNow in complete mode) hash-matched against the islands "
        "formulation. Boundary semantics, measured not assumed (r8 events "
        "fuzzer, gap-exactly ticks): session_window's boundary is CLOSED "
        "— a tick at exactly start+gap MERGES — so the oracle splits "
        "strictly at gap (diff > 30min), unlike the batch extension's "
        "half-open with_session_id convention (>=); the two operators "
        "differ only on measure-zero exact-gap ties and each is gated "
        "against its own convention. State per open session is one "
        "partial aggregate; a watermark bounds retained sessions in "
        "production append mode.",
)
def streaming_session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_result,
    )
    from kafka_flink_processing_spark.streaming.windows import (
        streaming_session_stats,
    )

    _, prices = derive_market(spark, sf_dir)
    return drain_streaming_result(prices, streaming_session_stats, "sess",
                                  output_mode="complete")
