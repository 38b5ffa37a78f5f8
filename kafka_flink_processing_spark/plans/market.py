"""Market-analytics pack: the read-side analytics an energy-trading desk
runs over the reference's own data model (price ticks + trades per hub —
producer.py:36-70, README.md:83-101), which the reference could only
answer by shipping rows to Postgres. OHLC candles, VWAP, realized
variance, max drawdown, signed flow — all engine-native, all oracle-gated.

Ticks/trades are the deterministic event-table derivation the PnL family
also uses (sources/events_market.py: derive_market and its oracle CTEs),
and every order on them is that module's tape rules (tape_window and
what is built on it), whose ids break ties: several ticks can share
(hub, ts), and open/close or a return sequence picked without a
tie-break would be partition-order-dependent — the exact class of
nondeterminism this engine bans.

Scale shapes: every query is one map-side-combined aggregate or one keyed
window; bars/returns partition by (hub, time-bucket) so no hub serializes
a year of ticks (same lever as plans/temporal.py's day-keyed RANGE
window). Money sums go through dsum; returns are clamped to [-10, 10]
before squaring (standard outlier winsorization — and it also bounds the
scaled-int64 sum at any corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.exact import (
    co_moment,
    co_moment_sql,
    dsum,
    dsum_sql,
    moment_sums,
    moment_sums_sql,
    ols_slope,
    ols_slope_sql,
    pearson_r,
    pearson_r_sql,
    pop_cov,
    pop_cov_sql,
    r_squared,
    r_squared_sql,
)
from kafka_flink_processing_spark.operators.windows import (
    SMA_SHORT,
    lag_chain_avg_sql,
)
from kafka_flink_processing_spark.plans.registry import register
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


def _ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """derive_market's prices in TICKS_CTE's column order (tick_id, ts,
    hub, price_mwh): the tick queries' plans project in this order."""
    _, prices = derive_market(spark, sf_dir)
    return prices.select("tick_id", "ts", "hub", "price_mwh")


# ONE oracle text for both OHLC registrations: the batch and streaming
# queries exist to hash-match the SAME result, so their sameness must be
# structural, not maintained by hand-copying two SQL strings.
_OHLC_ORACLE = f"""
    WITH {TICKS_CTE}
    SELECT hub, date_trunc('hour', ts) AS bar_hour,
           {OPEN_PRICE_SQL} AS open,
           MAX(price_mwh) AS high, MIN(price_mwh) AS low,
           {CLOSE_PRICE_SQL} AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM ticks GROUP BY 1, 2
    """


def _ohlc_aggs() -> list:
    """The five bar aggregates of both OHLC registrations."""
    return [open_price().alias("open"),
            F.max("price_mwh").alias("high"),
            F.min("price_mwh").alias("low"),
            close_price().alias("close"),
            F.count("*").alias("n_ticks")]


@register(
    "ohlc_bars",
    oracle=_OHLC_ORACLE,
    doc="hourly OHLC candles per hub — the desk's basic price rollup. "
        "open/close are the first/last tick on the tape (min_by/max_by "
        "over (ts, tick_id)), high/low/count plain aggregates: ONE "
        "map-side-combined groupBy, no window, no "
        "join Spark-side (struct-keyed min_by/max_by plans as a "
        "partial+final SortAggregate rather than hash — the sort is "
        "per-partition on the bar key and the exchange still carries one "
        "row per bar per partition; see PLANS.md). Bars key by "
        "(hub, hour), so parallelism grows with history length — no hub "
        "ever serializes.",
    bench=True,
)
def ohlc_bars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir).withColumn(
        "bar_hour", F.date_trunc("hour", F.col("ts")))
    return t.groupBy("hub", "bar_hour").agg(*_ohlc_aggs())


@register(
    "streaming_ohlc_bars",
    oracle=_OHLC_ORACLE,  # literally the batch query's oracle object
    doc="the OHLC rollup as a Structured Streaming windowed aggregation "
        "(1-hour tumbling window, complete-mode availableNow drain), "
        "hash-matched against the SAME batch oracle as ohlc_bars — "
        "unified batch/streaming semantics extended to ORDER-struct "
        "min_by/max_by state (the open/close tie-break carries through "
        "the streaming state merge unchanged). The live form of the "
        "candle feed a desk would run off the prices topic.",
)
def streaming_ohlc_bars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_result,
    )

    def build(stream: DataFrame) -> DataFrame:
        return (stream.groupBy("hub", F.window("ts", "1 hour").alias("w"))
                .agg(*_ohlc_aggs())
                .select("hub", F.col("w.start").alias("bar_hour"),
                        "open", "high", "low", "close", "n_ticks"))

    return drain_streaming_result(_ticks(spark, sf_dir), build, "sohlc",
                                  output_mode="complete")


@register(
    "vwap_hub_day",
    oracle=f"""
    WITH {TRADES_CTE}
    SELECT hub, date_trunc('day', ts) AS day, {VWAP_SQL} AS vwap,
           CAST(SUM(mw) AS BIGINT) AS total_mw,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM trades GROUP BY 1, 2
    """,
    doc="volume-weighted average price per (hub, day) over the trade "
        "stream: exact-decimal notional sum divided by the integer MW "
        "sum, so the quotient is identical at any partition count. One "
        "map-side-combined aggregate keyed by (hub, day).",
)
def vwap_hub_day_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = derive_market(spark, sf_dir)
    return (t.groupBy("hub", F.date_trunc("day", F.col("ts")).alias("day"))
            .agg(vwap().alias("vwap"),
                 F.sum("mw").cast("long").alias("total_mw"),
                 F.count("*").alias("n_trades")))


@register(
    "realized_variance_daily",
    oracle=f"""
    WITH {TICKS_CTE},
    seq AS (SELECT hub, date_trunc('day', ts) AS day, price_mwh,
                   {lagged_price_sql('ticks', 1, 'day')} AS prev
            FROM ticks),
    r AS (SELECT hub, day,
                 LEAST(GREATEST(price_mwh / prev - 1, -10.0), 10.0) AS ret
          FROM seq WHERE prev > 0)
    SELECT hub, day, CAST(COUNT(*) AS BIGINT) AS n_returns,
           {dsum_sql('ret * ret', 8)} AS sum_sq_returns,
           {dsum_sql('ret * ret', 8)} / COUNT(*) AS realized_var
    FROM r GROUP BY 1, 2
    """,
    doc="daily realized variance per hub from tick-to-tick simple returns "
        "(uncentered second moment — the desk's intraday volatility "
        "gauge). Returns clamp to [-10, 10] (winsorized against the "
        "synthetic zero/near-zero prices; the clamp also bounds the "
        "scaled-int64 square sum at any corpus size) and zero previous "
        "prices are excluded (a return off zero is undefined). The lag "
        "partitions by (hub, day) — the same bounded-partition lever as "
        "the day-keyed RANGE window — then ONE aggregate; no "
        "transcendentals anywhere (log returns would cost cross-engine "
        "exactness for nothing at this granularity).",
)
def realized_variance_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts")))
    seq = t.withColumn("prev", lagged_price("ticks", 1, "day"))
    ret = F.least(F.greatest(F.col("price_mwh") / F.col("prev") - 1,
                             F.lit(-10.0)), F.lit(10.0))
    r = seq.filter(F.col("prev") > 0).select("hub", "day",
                                             ret.alias("ret"))
    return (r.groupBy("hub", "day")
            .agg(F.count("*").alias("n_returns"),
                 dsum(F.col("ret") * F.col("ret"), 8)
                 .alias("sum_sq_returns"),
                 (dsum(F.col("ret") * F.col("ret"), 8) / F.count("*"))
                 .alias("realized_var")))


@register(
    "max_drawdown",
    oracle=f"""
    WITH {TICKS_CTE},
    run AS (SELECT hub, price_mwh,
                   MAX(price_mwh) OVER ({tape_window_sql('ticks')}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS peak
            FROM ticks)
    SELECT hub, MAX(peak) AS peak_price,
           MAX(CASE WHEN peak > 0 THEN (peak - price_mwh) / peak
                    ELSE 0.0 END) AS max_drawdown
    FROM run GROUP BY hub
    """,
    doc="maximum drawdown per hub: running peak via a ts-ordered window "
        "max, per-row drawdown ratio, then an order-free MAX — the "
        "path-dependent risk statistic that IS window-expressible "
        "(unlike the PnL fold) because the running max needs no "
        "netting state. One window shuffle on hub; for hubs with years "
        "of ticks re-key the window by (hub, epoch) and carry each "
        "epoch's closing peak into the next.",
)
def max_drawdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    w = tape_window("ticks").rowsBetween(Window.unboundedPreceding, 0)
    run = t.withColumn("peak", F.max("price_mwh").over(w))
    dd = F.when(F.col("peak") > 0,
                (F.col("peak") - F.col("price_mwh")) / F.col("peak")) \
          .otherwise(F.lit(0.0))
    return (run.groupBy("hub")
            .agg(F.max("peak").alias("peak_price"),
                 F.max(dd).alias("max_drawdown")))


@register(
    "trade_flow_net",
    oracle=f"""
    WITH {TRADES_CTE}
    SELECT hub, date_trunc('hour', ts) AS flow_hour,
           CAST(SUM(IF(side = 'BUY', mw, 0)) AS BIGINT) AS buy_mw,
           CAST(SUM(IF(side = 'SELL', mw, 0)) AS BIGINT) AS sell_mw,
           CAST(SUM({SIGNED_MW_SQL}) AS BIGINT) AS net_mw,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM trades GROUP BY 1, 2
    """,
    doc="signed order-flow per (hub, hour): buy/sell/net MW volumes — the "
        "P5 side-to-signed-quantity map (PnlAndExposureJob.java:116) "
        "aggregated into the flow-imbalance series a desk watches. Pure "
        "integer conditional sums, one map-side-combined aggregate.",
)
def trade_flow_net_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = derive_market(spark, sf_dir)
    return (t.groupBy("hub", F.date_trunc("hour", F.col("ts"))
                      .alias("flow_hour"))
            .agg(F.sum(F.when(F.col("side") == "BUY", F.col("mw"))
                       .otherwise(0)).cast("long").alias("buy_mw"),
                 F.sum(F.when(F.col("side") == "SELL", F.col("mw"))
                       .otherwise(0)).cast("long").alias("sell_mw"),
                 F.sum(signed_mw()).cast("long").alias("net_mw"),
                 F.count("*").alias("n_trades")))


@register(
    "hourly_load_profile",
    oracle=f"""
    WITH {TICKS_CTE}
    SELECT hub, CAST(hour(ts) AS BIGINT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           {dsum_sql('price_mwh')} / COUNT(*) AS avg_price,
           MIN(price_mwh) AS min_price,
           MAX(price_mwh) AS max_price
    FROM ticks GROUP BY 1, 2
    """,
    doc="hour-of-day price seasonality per hub (the diurnal load-profile "
        "curve a desk reads against the reference producer's own diurnal "
        "term, producer.py:36-49): average/min/max price per (hub, "
        "hour-of-day) across the whole history. One map-side-combined "
        "aggregate to a fixed hubs x 24 output at any corpus size; the "
        "mean is the exact scaled-int sum over one count division.",
)
def hourly_load_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    return (t.groupBy("hub", F.hour("ts").cast("long").alias("hour_of_day"))
            .agg(F.count("*").alias("n_ticks"),
                 (dsum("price_mwh") / F.count("*")).alias("avg_price"),
                 F.min("price_mwh").alias("min_price"),
                 F.max("price_mwh").alias("max_price")))


# --- r5 additions: forecast/risk depth + the two-stream join -------------

_EWMA_N = 32        # bounded frame: EWMA over the last 32 ticks per hub
_EWMA_SCALE = 10 ** 8  # per-term fixed-point scale for the order-free sum


@register(
    "ewma_price",
    oracle=f"""
    WITH {TICKS_CTE},
    fr AS (SELECT hub, ts, tick_id, price_mwh,
                  list(price_mwh) OVER ({tape_window_sql('ticks')}
                    ROWS BETWEEN {_EWMA_N - 1} PRECEDING AND CURRENT ROW) AS l
           FROM ticks)
    SELECT hub, ts, tick_id, price_mwh,
           CAST(list_sum(list_transform(l, (v, i) ->
                  CAST(ROUND(v * power(0.5, len(l) - i) * {_EWMA_SCALE})
                       AS BIGINT))) AS DOUBLE) / {float(_EWMA_SCALE)}
             / (2.0 * (1.0 - power(0.5, len(l)))) AS ewma
    FROM fr
    """,
    doc="exponentially-weighted moving average price per hub over a "
        "bounded {N}-tick frame (alpha=0.5) — the natural upgrade of the "
        "reference's SMA forecast (ForecastsJob.java:76-88): recent ticks "
        "dominate, but the frame bound keeps the operator a plain ROWS "
        "window instead of an unbounded recurrence (an infinite-history "
        "EWMA is a stateful fold; the bounded form is window algebra and "
        "the weight below 0.5^31 is beneath the 8dp fixed-point floor "
        "anyway). Cross-engine exactness: alpha=0.5 makes every weight an "
        "exact power of two, each weighted term is rounded to scaled "
        "int64 BEFORE summation (the functions/exact.py idiom applied "
        "in-row via transform+aggregate), so the higher-order-function "
        "sum is order-free integer math; the normalizer 2*(1-0.5^n) is a "
        "closed form, not a second fold. One window shuffle on hub; "
        "re-key by (hub, epoch) with a {N}-row overlap to shard "
        "year-long hubs, same lever as max_drawdown.".format(N=_EWMA_N),
    bench=True,  # first benched r5: higher-order-frame window floor
)
def ewma_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 examined-and-rejected: a lag-sum rewrite (32 constant-weight
    # lag() terms in codegen instead of the collect_list frame + 32
    # interpreted pow() calls per row) was proven bit-identical at two
    # SFs and measured SLOWER — ~2.5 s vs ~1.4 s at comparable box
    # controls (32 separate offset window frames each iterate the
    # partition; one collect_list buffer + HOF walk is cheaper). The
    # array form below stays; evidence in OPTIMIZATION_r13.md.
    t = _ticks(spark, sf_dir)
    w = tape_window("ticks").rowsBetween(-(_EWMA_N - 1), 0)
    fr = t.withColumn("l", F.collect_list("price_mwh").over(w))
    n = F.size(F.col("l"))
    # 0-based transform index i -> weight 0.5^(n-1-i); DuckDB's 1-based
    # (v, i) lambda renders the same exponent as len(l) - i.
    terms = F.transform(
        F.col("l"),
        lambda v, i: F.round(v * F.pow(F.lit(0.5), n - 1 - i)
                             * _EWMA_SCALE).cast("long"))
    num = F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)
    ewma = (num.cast("double") / float(_EWMA_SCALE)
            / (2.0 * (1.0 - F.pow(F.lit(0.5), n))))
    return fr.select("hub", "ts", "tick_id", "price_mwh",
                     ewma.alias("ewma"))


_BB_N = 20  # Bollinger frame: SMA(20) +/- 2 sigma


@register(
    "bollinger_bands",
    oracle=f"""
    WITH {TICKS_CTE},
    fr AS (SELECT hub, ts, tick_id, price_mwh,
                  SUM(CAST(ROUND(price_mwh * 100) AS BIGINT))
                    OVER w AS s1,
                  SUM(CAST(ROUND(price_mwh * price_mwh * 10000) AS BIGINT))
                    OVER w AS s2,
                  COUNT(*) OVER w AS n
           FROM ticks
           WINDOW w AS ({tape_window_sql('ticks')}
                        ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW))
    SELECT hub, ts, tick_id, price_mwh,
           CAST(s1 AS DOUBLE) / (100.0 * n) AS mid_band,
           sqrt(GREATEST(CAST(n * s2 - s1 * s1 AS DOUBLE)
                         / ((10000.0 * n) * (n - 1)), 0.0)) AS sd,
           CAST(s1 AS DOUBLE) / (100.0 * n)
             + 2.0 * sqrt(GREATEST(CAST(n * s2 - s1 * s1 AS DOUBLE)
                          / ((10000.0 * n) * (n - 1)), 0.0)) AS upper_band,
           CAST(s1 AS DOUBLE) / (100.0 * n)
             - 2.0 * sqrt(GREATEST(CAST(n * s2 - s1 * s1 AS DOUBLE)
                          / ((10000.0 * n) * (n - 1)), 0.0)) AS lower_band
    FROM fr WHERE n = {_BB_N}
    """,
    doc="Bollinger bands per hub: SMA({N}) +/- 2 sample-stddev over a "
        "{N}-tick ROWS frame, emitted only for full frames (warm-up rows "
        "dropped — a 3-tick 'band' is noise). The variance comes from the "
        "identity (n*S2 - S1^2)/(n*(n-1)) computed ENTIRELY in scaled "
        "int64 window sums (S1 at 1e2, S2 at 1e4 — the functions/exact.py "
        "idiom as window aggregates), so the only floating-point ops are "
        "one division and one sqrt on identical integers in both engines "
        "— order-independent at any partition count, no Welford state "
        "needed. GREATEST(.., 0) guards the constant-price frame where "
        "rounding of S2 could land the numerator at -1. One window "
        "shuffle on hub, same sharding lever as ewma_price.".format(
            N=_BB_N),
    bench=True,  # first benched r5: scaled-int window-sum floor
)
def bollinger_bands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    w = tape_window("ticks").rowsBetween(-(_BB_N - 1), 0)
    s1 = F.sum(F.round(F.col("price_mwh") * 100).cast("long")).over(w)
    s2 = F.sum(F.round(F.col("price_mwh") * F.col("price_mwh") * 10000)
               .cast("long")).over(w)
    n = F.count(F.lit(1)).over(w)
    fr = (t.withColumn("s1", s1).withColumn("s2", s2).withColumn("n", n)
          .filter(F.col("n") == _BB_N))
    mid = F.col("s1").cast("double") / (100.0 * F.col("n"))
    var = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")) \
        .cast("double") / ((10000.0 * F.col("n")) * (F.col("n") - 1))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return fr.select("hub", "ts", "tick_id", "price_mwh",
                     mid.alias("mid_band"), sd.alias("sd"),
                     (mid + 2.0 * sd).alias("upper_band"),
                     (mid - 2.0 * sd).alias("lower_band"))


@register(
    "hub_spread_hourly",
    oracle=f"""
    WITH {TICKS_CTE},
    hourly AS (SELECT hub, date_trunc('hour', ts) AS spread_hour,
                      {dsum_sql('price_mwh')} / COUNT(*) AS avg_price,
                      CAST(COUNT(*) AS BIGINT) AS n_ticks
               FROM ticks GROUP BY 1, 2)
    SELECT a.hub AS hub_a, b.hub AS hub_b, a.spread_hour,
           a.avg_price AS price_a, b.avg_price AS price_b,
           a.avg_price - b.avg_price AS spread,
           a.n_ticks AS n_ticks_a, b.n_ticks AS n_ticks_b
    FROM hourly a JOIN hourly b
      ON a.spread_hour = b.spread_hour AND a.hub < b.hub
    """,
    doc="hourly inter-hub basis: average price per (hub, hour), then the "
        "hub-pair spread for every hub_a < hub_b pair in that hour — the "
        "congestion/basis monitor a desk runs across locations. The join "
        "input is the PRE-AGGREGATED hubs x hours table (bounded: #hubs x "
        "history hours, independent of tick volume), so the self-join is "
        "broadcast-sized at any corpus scale and the only full-data pass "
        "is one map-side-combined aggregate; the pair fan-out is "
        "hubs^2/2 per hour, bounded by the fixed hub count. Averages are "
        "exact scaled-int sums over counts, the spread one double "
        "subtraction on identical operands.",
)
def hub_spread_hourly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    hourly = (t.groupBy("hub", F.date_trunc("hour", F.col("ts"))
                        .alias("spread_hour"))
              .agg((dsum("price_mwh") / F.count("*")).alias("avg_price"),
                   F.count("*").alias("n_ticks")))
    a = hourly.alias("a")
    b = hourly.alias("b")
    return (a.join(F.broadcast(b),
                   (F.col("a.spread_hour") == F.col("b.spread_hour"))
                   & (F.col("a.hub") < F.col("b.hub")))
            .select(F.col("a.hub").alias("hub_a"),
                    F.col("b.hub").alias("hub_b"),
                    F.col("a.spread_hour").alias("spread_hour"),
                    F.col("a.avg_price").alias("price_a"),
                    F.col("b.avg_price").alias("price_b"),
                    (F.col("a.avg_price") - F.col("b.avg_price"))
                    .alias("spread"),
                    F.col("a.n_ticks").alias("n_ticks_a"),
                    F.col("b.n_ticks").alias("n_ticks_b")))


_SLIPPAGE_TOL_S = 300  # a tick prices a trade for 5 minutes


def slippage_join_build(streams: dict[str, DataFrame]) -> DataFrame:
    """The watermarked stream-stream interval join itself, shared by the
    registered query and tools/stream_bench.py's state-growth probe."""
    p = (streams["ticks"]
         .select(F.col("tick_id"), F.col("ts").alias("tick_ts"),
                 F.col("hub").alias("tick_hub"),
                 F.col("price_mwh").alias("tick_price"))
         .withWatermark("tick_ts", "10 minutes"))
    t = (streams["trades"]
         .select(F.col("trade_id"), F.col("ts").alias("trade_ts"),
                 F.col("hub"), F.col("price_mwh").alias("trade_price"))
         .withWatermark("trade_ts", "10 minutes"))
    cond = ((F.col("hub") == F.col("tick_hub"))
            & (F.col("tick_ts") <= F.col("trade_ts"))
            & (F.col("tick_ts") >= F.col("trade_ts")
               - F.expr(f"INTERVAL {_SLIPPAGE_TOL_S} SECONDS")))
    return (t.join(p, cond)
            .select("trade_id", "tick_id", "hub", "trade_ts", "tick_ts",
                    "trade_price", "tick_price",
                    (F.col("trade_price") - F.col("tick_price"))
                    .alias("slippage")))


@register(
    "streaming_slippage_join",
    oracle=f"""
    WITH {TICKS_CTE},
    {TRADES_CTE}
    SELECT t.trade_id, p.tick_id, t.hub,
           t.ts AS trade_ts, p.ts AS tick_ts,
           t.price_mwh AS trade_price, p.price_mwh AS tick_price,
           t.price_mwh - p.price_mwh AS slippage
    FROM trades t JOIN ticks p
      ON t.hub = p.hub AND p.ts <= t.ts
         AND p.ts >= t.ts - INTERVAL {_SLIPPAGE_TOL_S} SECONDS
    """,
    doc="native stream-stream interval join, registered and hash-matched "
        "against the equivalent batch SQL: every (trade, tick) pair on "
        "the same hub with the tick at most {S}s before the trade, plus "
        "the per-pair slippage (trade price minus the tick it printed "
        "through) — the Spark-idiomatic form of the reference's "
        "connect+CoProcess correlation (PnlAndExposureJob.java:50-51), "
        "where Spark's join state manager holds both sides bounded by "
        "the 10-minute watermarks instead of hand-kept ValueState. The "
        "event-time bound makes the buffered state O(tolerance x rate) "
        "per hub, not O(history); tests/test_stream_stream_join.py "
        "additionally property-checks the bound on synthetic fixtures. "
        "Batch twin of the same condition is the range-join family "
        "(operators/range_join.py).".format(S=_SLIPPAGE_TOL_S),
)
def streaming_slippage_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_multi,
    )

    trades, _ = derive_market(spark, sf_dir)
    return drain_streaming_multi(
        {"ticks": _ticks(spark, sf_dir), "trades": trades},
        slippage_join_build, "slippage")


@register(
    "da_rt_daily_corr",
    oracle=f"""
    WITH {RT_CTE}, {DA_CTE},
    rt_h AS (SELECT hub, date_trunc('hour', ts) AS h,
                    {dsum_sql('lmp_rt')} / COUNT(*) AS rt_avg
             FROM rt GROUP BY 1, 2),
    da_h AS (SELECT hub, date_trunc('hour', ts) AS h,
                    {dsum_sql('lmp_da')} / COUNT(*) AS da_avg
             FROM da GROUP BY 1, 2),
    p AS (SELECT rt_h.hub, date_trunc('day', rt_h.h) AS day,
                 rt_h.rt_avg AS x, da_h.da_avg AS y
          FROM rt_h JOIN da_h ON rt_h.hub = da_h.hub AND rt_h.h = da_h.h),
    m AS (SELECT hub, day, CAST(COUNT(*) AS BIGINT) AS n_hours,
                 {moment_sums_sql('x', 'y')}
          FROM p GROUP BY 1, 2)
    SELECT hub, day, n_hours, {pearson_r_sql('n_hours')} AS corr_da_rt
    FROM m
    """,
    doc="daily correlation between the real-time and day-ahead price "
        "series per hub (the DA/RT coupling gauge behind "
        "da_rt_asof_basis's row-level view, README.md:98-100): hourly "
        "exact-average RT and DA prices are paired on (hub, hour), then "
        "Pearson r per (hub, day) from the five moment sums, each "
        "6dp-rounded and summed exactly (functions/exact.moment_sums) so "
        "the reduction is order-free; the final r is a handful of IEEE ops "
        "on identical integers in both engines. Degenerate days "
        "(fewer than 2 paired hours, or a constant side) yield NULL "
        "rather than a 0/0. Scale: two map-side-combined hourly "
        "aggregates (bounded hubs x hours output), an hour-keyed join "
        "of those bounded tables, and one (hub, day) reduction — tick "
        "volume is touched exactly twice, both times map-side.",
)
def da_rt_daily_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    rt, da = derive_da_rt(spark, sf_dir)

    def hourly(prints: DataFrame, price: str, out: str) -> DataFrame:
        return (prints.groupBy("hub",
                               F.date_trunc("hour", F.col("ts")).alias("h"))
                .agg((dsum(price) / F.count("*")).alias(out)))

    p = (hourly(rt, "lmp_rt", "x")
         .join(hourly(da, "lmp_da", "y"), ["hub", "h"])
         .select("hub", F.date_trunc("day", F.col("h")).alias("day"),
                 "x", "y"))
    m = p.groupBy("hub", "day").agg(F.count("*").alias("n_hours"),
                                    *moment_sums("x", "y"))
    return m.select("hub", "day", "n_hours",
                    pearson_r("n_hours").alias("corr_da_rt"))


# --- r5 late pack B: frame statistics, regime intervals, cross-hub corr --

_MED_N = 21  # rolling-median frame: current tick + 20 preceding


@register(
    "rolling_median_price",
    oracle=f"""
    WITH {TICKS_CTE},
    fr AS (SELECT hub, ts, tick_id, price_mwh,
                  list_sort(list(price_mwh) OVER (
                    {tape_window_sql('ticks')}
                    ROWS BETWEEN {_MED_N - 1} PRECEDING AND CURRENT ROW)) AS l
           FROM ticks)
    SELECT hub, ts, tick_id, price_mwh,
           (l[CAST(floor((len(l) + 1) / 2) AS BIGINT)]
            + l[CAST(floor(len(l) / 2) AS BIGINT) + 1]) / 2.0 AS med_price
    FROM fr
    """,
    doc="exact rolling median price per hub over a bounded "
        f"{_MED_N}-tick frame — the robust companion to the reference's "
        "SMA forecast (ForecastsJob.java:76-88): a median shrugs off the "
        "spike ticks that drag a mean, so desks read it as the 'true' "
        "level during volatile hours. Exactness: no approximate "
        "percentile sketch — the frame is sorted and the two middle "
        "elements averaged ((a+b)/2.0 is one IEEE op on identical "
        "doubles in both engines), so the value-hash matches bit-for-bit "
        "and the result is partition-order-independent (the frame is on "
        "the tape). Scale: ONE window shuffle on hub; "
        "per-row cost is O(k log k) on the bounded k=21 frame (the sort "
        "is in-row array algebra, never a shuffle); re-key by (hub, "
        "epoch) with a k-row overlap to shard year-long hubs — the same "
        "lever ewma_price documents.",
)
def rolling_median_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    w = tape_window("ticks").rowsBetween(-(_MED_N - 1), 0)
    l = F.array_sort(F.collect_list("price_mwh").over(w))
    fr = t.withColumn("l", l)
    n = F.size(F.col("l"))
    lo = F.element_at(F.col("l"), F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(F.col("l"), F.floor(n / 2).cast("int") + 1)
    return fr.select("hub", "ts", "tick_id", "price_mwh",
                     ((lo + hi) / 2.0).alias("med_price"))


_BAND_MWH = 10.0  # price-regime band width for the SCD-2 intervals


@register(
    "scd2_price_intervals",
    oracle=f"""
    WITH {TICKS_CTE},
    b AS (SELECT hub, ts, tick_id,
                 CAST(floor(price_mwh / {_BAND_MWH}) AS BIGINT) AS band
          FROM ticks),
    c AS (SELECT hub, ts, tick_id, band,
                 CASE WHEN lag(band) OVER ({tape_window_sql('ticks')})
                           IS DISTINCT FROM band THEN 1 ELSE 0 END AS chg
          FROM b),
    i AS (SELECT hub, ts, band, chg,
                 CAST(SUM(chg) OVER ({tape_window_sql('ticks')}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS island,
                 CAST(row_number() OVER ({tape_window_sql('ticks')})
                      AS BIGINT) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY hub) AS BIGINT) AS n_hub
          FROM c),
    starts AS (SELECT hub, island, band, ts AS valid_from, rn, n_hub
               FROM i WHERE chg = 1)
    SELECT hub, island, band, valid_from,
           lead(valid_from) OVER (PARTITION BY hub ORDER BY island)
             AS valid_until,
           COALESCE(lead(rn) OVER (PARTITION BY hub ORDER BY island),
                    n_hub + 1) - rn AS n_ticks
    FROM starts
    """,
    doc="SCD-2 validity intervals for the per-hub price regime (price "
        f"bucketed into {_BAND_MWH:.0f}-MWh bands): the classic "
        "gaps-and-islands shape — lag() flags a regime change, a running "
        "sum of flags numbers the islands, each chg=1 row IS its run's "
        "start row, and lead() closes every interval with the next run's "
        "start (NULL = still current) and sizes it from row-number "
        "deltas. This is the slowly-changing-dimension materialization "
        "the reference's Postgres side would build with the identical "
        "SQL (README.md:83-101 reads latest state; this is its full "
        "history form). Determinism: integer bands on the tape's total "
        "order. Scale: deliberately NO "
        "run-collapsing groupBy — every step is a window over the SAME "
        "hub partitioning (the run aggregate would re-shuffle tick-sized "
        "data on (hub, island)), so the whole query is ONE hub-hash "
        "exchange end-to-end (pinned in tests/test_plans_r5b.py) and the "
        "lead() pass runs on the run-start subset (output-sized). A "
        "year-long hub shards by (hub, epoch) with one overlap row "
        "carried across the epoch seam to stitch boundary islands.",
)
def scd2_price_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    band = F.floor(F.col("price_mwh") / _BAND_MWH).cast("long")
    wo = tape_window("ticks")
    wh = Window.partitionBy("hub")
    b = t.select("hub", "ts", "tick_id", band.alias("band"))
    chg = F.when(F.lag("band").over(wo).eqNullSafe(F.col("band")), 0) \
           .otherwise(1)
    i = (b.withColumn("chg", chg)
          .withColumn("island", F.sum("chg").over(
              wo.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("rn", F.row_number().over(wo).cast("long"))
          .withColumn("n_hub", F.count("*").over(wh)))
    starts = (i.filter(F.col("chg") == 1)
               .select("hub", "island", "band",
                       F.col("ts").alias("valid_from"), "rn", "n_hub"))
    wi = Window.partitionBy("hub").orderBy("island")
    n_ticks = (F.coalesce(F.lead("rn").over(wi), F.col("n_hub") + 1)
               - F.col("rn"))
    return starts.select("hub", "island", "band", "valid_from",
                         F.lead("valid_from").over(wi).alias("valid_until"),
                         n_ticks.alias("n_ticks"))


@register(
    "hub_price_corr_matrix",
    oracle=f"""
    WITH {TICKS_CTE},
    d AS (SELECT hub, date_trunc('day', ts) AS day,
                 {dsum_sql('price_mwh')} / COUNT(*) AS p
          FROM ticks GROUP BY 1, 2),
    pr AS (SELECT a.hub AS hub_a, b.hub AS hub_b, a.p AS x, b.p AS y
           FROM d a JOIN d b ON a.day = b.day AND a.hub < b.hub),
    m AS (SELECT hub_a, hub_b, CAST(COUNT(*) AS BIGINT) AS n_days,
                 {moment_sums_sql('x', 'y')}
          FROM pr GROUP BY 1, 2)
    SELECT hub_a, hub_b, n_days, {pearson_r_sql('n_days')} AS corr
    FROM m
    """,
    doc="pairwise Pearson correlation of daily average prices across ALL "
        "hub pairs — the congestion/coupling matrix a desk reads to see "
        "which hubs move together (generalizes da_rt_daily_corr's "
        "two-series form to the full hub x hub grid). Exactness: the "
        "daily averages are exact scaled-int sums over counts; the five "
        "moment sums are 6dp-rounded exact sums so every reduction is "
        "order-free; degenerate pairs (under 2 shared days or a constant "
        "side) yield NULL. Scale: tick volume is touched ONCE by a "
        "map-side-combined (hub, day) aggregate whose output is bounded "
        "by hubs x days — the self-join and the (hub_a, hub_b) reduction "
        "run on that tiny grid, so the pair blow-up is hubs^2 x days, "
        "never ticks^2; with many hubs the grid self-join broadcasts "
        "(AQE picks this up at runtime from the aggregate's size).",
)
def hub_price_corr_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    d = (t.groupBy("hub", F.date_trunc("day", F.col("ts")).alias("day"))
          .agg((dsum("price_mwh") / F.count("*")).alias("p")))
    a = d.select(F.col("hub").alias("hub_a"), "day", F.col("p").alias("x"))
    b = d.select(F.col("hub").alias("hub_b"), "day", F.col("p").alias("y"))
    pr = a.join(b, "day").filter(F.col("hub_a") < F.col("hub_b"))
    m = pr.groupBy("hub_a", "hub_b").agg(F.count("*").alias("n_days"),
                                         *moment_sums("x", "y"))
    return m.select("hub_a", "hub_b", "n_days",
                    pearson_r("n_days").alias("corr"))


# --- r5 late pack C: forecast backtest + execution quality ---------------

@register(
    "forecast_backtest_sma",
    oracle=f"""
    WITH {TICKS_CTE},
    f AS (SELECT hub, ts, tick_id, price_mwh,
                 {lag_chain_avg_sql('price_mwh', SMA_SHORT)} AS sma,
                 LEAD(price_mwh) OVER w AS actual_next
          FROM ticks WINDOW w AS ({tape_window_sql('ticks')})),
    e AS (SELECT hub, actual_next - sma AS err FROM f
          WHERE actual_next IS NOT NULL)
    SELECT hub, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           {dsum_sql('err', 4)} / COUNT(*) AS bias,
           {dsum_sql('abs(err)', 4)} / COUNT(*) AS mae,
           sqrt({dsum_sql('err * err', 4)} / COUNT(*)) AS rmse
    FROM e GROUP BY 1
    """,
    doc="walk-forward backtest of the reference's own SMA(5) forecast "
        "(ForecastsJob.java:76-88 emits forecast_next = sma5; this "
        "measures how good that forecast actually is): each tick's sma5 "
        "is scored against the NEXT tick's realized price, aggregated "
        "per hub into bias / MAE / RMSE — the accuracy report a desk "
        "reads before trusting the forecast column. Walk-forward = no "
        "leakage: the frame ends at the current row, the target is "
        "strictly later. Exactness: the sma is the SAME left-to-right "
        "lag-chain form forecast_sma's oracle proves cross-engine "
        "bit-exact; err/|err|/err^2 are rounded to 4dp scaled int64 "
        "per-row so the hub sums are order-free; sqrt of an identical "
        "double is exact. Scale: ONE hub-keyed window exchange computes "
        "sma and lead in the same pass, then a map-side-combined "
        "aggregate reduces to 4 rows; shard year-long hubs by (hub, "
        "epoch) with a 5-row overlap, exactly as ewma_price documents. "
        "At extreme row counts re-scale the int64 accumulators (or "
        "pre-aggregate per shard) before the global sum.",
)
def forecast_backtest_sma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    wo = tape_window("ticks")
    sma = F.avg("price_mwh").over(wo.rowsBetween(-(SMA_SHORT - 1), 0))
    f = t.select("hub", sma.alias("sma"),
                 F.lead("price_mwh").over(wo).alias("actual_next"))
    e = (f.filter(F.col("actual_next").isNotNull())
          .select("hub", (F.col("actual_next") - F.col("sma")).alias("err")))
    n = F.count("*")
    return (e.groupBy("hub")
             .agg(n.alias("n_forecasts"),
                  (dsum("err", 4) / n).alias("bias"),
                  (dsum(F.abs(F.col("err")), 4) / n).alias("mae"),
                  F.sqrt(dsum(F.col("err") * F.col("err"), 4) / n)
                   .alias("rmse")))


@register(
    "vwap_execution_quality",
    oracle=f"""
    WITH {TRADES_CTE},
    v AS (SELECT hub, date_trunc('day', ts) AS day, {VWAP_SQL} AS vwap
          FROM trades GROUP BY 1, 2),
    d AS (SELECT t.hub, t.side, t.price_mwh - v.vwap AS dev
          FROM trades t JOIN v ON t.hub = v.hub
                              AND date_trunc('day', t.ts) = v.day)
    SELECT hub, side, CAST(COUNT(*) AS BIGINT) AS n_trades,
           {dsum_sql('dev', 4)} / COUNT(*) AS mean_dev,
           {dsum_sql('abs(dev)', 4)} / COUNT(*) AS mean_abs_dev
    FROM d GROUP BY 1, 2
    """,
    doc="per-(hub, side) execution quality: each trade's price deviation "
        "from its own (hub, day) VWAP, averaged signed and absolute — "
        "the slippage-vs-benchmark report a desk runs nightly (BUY above "
        "VWAP / SELL below VWAP = paying up; the reference ships trades "
        "to Postgres, where this is the natural read, README.md:83-101). "
        "Exactness: the VWAP quotient is the same exact-decimal form "
        "vwap_hub_day proves; deviations round to 4dp scaled int64 "
        "per-row so the (hub, side) sums are order-free. Scale: trades "
        "are touched twice — once by the map-side-combined (hub, day) "
        "VWAP aggregate (output bounded by hubs x days) and once by the "
        "enrichment join, which BROADCASTS that tiny grid back onto the "
        "trade scan (no trade-sized shuffle; pinned in "
        "tests/test_plans_r5b.py) — then one map-side-combined "
        "aggregate to hubs x 2 rows.",
)
def vwap_execution_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = derive_market(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).alias("day")
    v = t.groupBy("hub", day).agg(vwap().alias("vwap"))
    d = (t.select("hub", "side", "price_mwh", day)
          .join(F.broadcast(v), ["hub", "day"])
          .select("hub", "side",
                  (F.col("price_mwh") - F.col("vwap")).alias("dev")))
    n = F.count("*")
    return (d.groupBy("hub", "side")
             .agg(n.alias("n_trades"),
                  (dsum("dev", 4) / n).alias("mean_dev"),
                  (dsum(F.abs(F.col("dev")), 4) / n).alias("mean_abs_dev")))


# --- r6 pack: microstructure regressions (OLS via sufficient statistics) --

# Distributed closed-form OLS: every regression below reduces its input to
# the moment sums (functions/exact.moment_sums) with ONE map-side-combined
# aggregate, then evaluates slope/corr on the tiny grouped result — the
# 100 TB linear-model pattern: no iteration, no driver-side data.


@register(
    "kyle_lambda_price_impact",
    oracle=f"""
    WITH {TRADES_CTE},
    seq AS (SELECT hub, {SIGNED_MW_SQL} AS x,
                   {price_change_sql('trades')} AS y
            FROM trades),
    m AS (SELECT hub, CAST(COUNT(*) AS BIGINT) AS n_obs,
                 {moment_sums_sql('x', 'y', 0, 6)}
          FROM seq WHERE y IS NOT NULL GROUP BY 1)
    SELECT hub, n_obs, {ols_slope_sql('n_obs')} AS lambda_impact,
           {r_squared_sql('n_obs')} AS r2
    FROM m
    """,
    doc="Kyle's lambda per hub: OLS slope of trade-to-trade price change "
        "on signed order flow (BUY +mw / SELL -mw) — the price-impact "
        "coefficient a desk uses to cost a planned position against "
        "the reference's trades stream (producer.py:36-70's side/mw "
        "fields exist exactly for this read). Exactness: x is integer "
        "mw, y a 6dp-rounded price diff; the moment sums are exact and "
        "the slope algebra runs on identical doubles in both engines. "
        "Scale: one hub-keyed exchange for the LAG, then a map-side-"
        "combined moment aggregate to hubs rows; with few hubs the "
        "re-key lever is (hub, day) sub-regressions, same as "
        "ewma_price's documented epoch re-key.",
    bench=True,  # joined the headline r6: first-round floor rule (BASELINE.md)
)
def kyle_lambda_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = derive_market(spark, sf_dir)
    seq = (t.select("hub", signed_mw().alias("x"),
                    price_change("trades").alias("y"))
           .filter(F.col("y").isNotNull()))
    m = seq.groupBy("hub").agg(F.count("*").alias("n_obs"),
                               *moment_sums("x", "y", 0, 6))
    return m.select("hub", "n_obs", ols_slope("n_obs").alias("lambda_impact"),
                    r_squared("n_obs").alias("r2"))


@register(
    "lead_lag_hub_beta",
    oracle=f"""
    WITH {TICKS_CTE},
    d AS (SELECT hub, date_trunc('hour', ts) AS h,
                 {dsum_sql('price_mwh')} / COUNT(*) AS p
          FROM ticks GROUP BY 1, 2),
    r AS (SELECT a.hub, a.h, a.p - b.p AS ret
          FROM d a JOIN d b ON a.hub = b.hub
                           AND a.h = b.h + INTERVAL 1 HOUR),
    pr AS (SELECT a.hub AS hub_lead, b.hub AS hub_lag,
                  a.ret AS x, b.ret AS y
           FROM r a JOIN r b ON b.h = a.h + INTERVAL 1 HOUR
                            AND a.hub <> b.hub),
    m AS (SELECT hub_lead, hub_lag, CAST(COUNT(*) AS BIGINT) AS n_hours,
                 {moment_sums_sql('x', 'y')}
          FROM pr GROUP BY 1, 2)
    SELECT hub_lead, hub_lag, n_hours, {ols_slope_sql('n_hours')} AS beta,
           {pearson_r_sql('n_hours')} AS corr
    FROM m
    """,
    doc="directional lead-lag coupling: regress hub B's NEXT-hour price "
        "move on hub A's current-hour move, for every ordered hub pair — "
        "the predictive (who-moves-first) complement to "
        "hub_price_corr_matrix's contemporaneous daily correlation. "
        "Hourly returns come from consecutive-hour self-joins (a gap "
        "hour contributes nothing, rather than silently differencing "
        "across it). Exactness: hourly means are exact scaled-int sums "
        "over counts; moment sums 6dp exact; sqrt only on identical "
        "doubles. Scale: ticks are touched ONCE by the map-side-combined "
        "(hub, hour) aggregate; every later join/aggregate runs on the "
        "hubs x hours grid (broadcast-sized; AQE picks the broadcast), "
        "so the pair blow-up is hubs^2 x hours, never ticks^2.",
)
def lead_lag_hub_beta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    d = (t.groupBy("hub", F.date_trunc("hour", F.col("ts")).alias("h"))
          .agg((dsum("price_mwh") / F.count("*")).alias("p")))
    prev = d.select(F.col("hub").alias("hub"),
                    (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("h"),
                    F.col("p").alias("p_prev"))
    r = (d.join(prev, ["hub", "h"])
          .select("hub", "h", (F.col("p") - F.col("p_prev")).alias("ret")))
    a = r.select(F.col("hub").alias("hub_lead"),
                 (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("h"),
                 F.col("ret").alias("x"))
    b = r.select(F.col("hub").alias("hub_lag"), "h", F.col("ret").alias("y"))
    pr = a.join(b, "h").filter(F.col("hub_lead") != F.col("hub_lag"))
    m = pr.groupBy("hub_lead", "hub_lag").agg(F.count("*").alias("n_hours"),
                                              *moment_sums("x", "y"))
    return m.select("hub_lead", "hub_lag", "n_hours",
                    ols_slope("n_hours").alias("beta"),
                    pearson_r("n_hours").alias("corr"))


@register(
    "roll_spread_estimator",
    oracle=f"""
    WITH {TRADES_CTE},
    d AS (SELECT hub, ts, trade_id, {price_change_sql('trades')} AS dp
          FROM trades),
    p AS (SELECT hub, dp, LAG(dp) OVER ({tape_window_sql('trades')}) AS dp_lag
          FROM d),
    m AS (SELECT hub, CAST(COUNT(*) AS BIGINT) AS n_obs,
                 {moment_sums_sql('dp', 'dp_lag')}
          FROM p WHERE dp IS NOT NULL AND dp_lag IS NOT NULL
          GROUP BY hub),
    c AS (SELECT hub, n_obs, {pop_cov_sql('n_obs')} AS serial_cov FROM m)
    SELECT hub, n_obs, serial_cov,
           CASE WHEN serial_cov < 0.0 THEN 2.0 * sqrt(-serial_cov)
                ELSE NULL END AS roll_spread
    FROM c
    """,
    doc="Roll (1984) implied effective spread per hub: 2*sqrt(-cov(dp_t, "
        "dp_{t-1})) from the serial covariance of consecutive trade-price "
        "changes — the classic microstructure estimator that reads the "
        "bid-ask bounce straight off the trade tape, no quote data "
        "needed. A non-negative serial covariance carries no spread "
        "signal and yields NULL (reported, not hidden — the desk wants "
        "to see which hubs trend). Exactness: dp is the tape's price "
        "change, moment sums are 6dp exact sums "
        "(functions/exact.py), population-covariance algebra and sqrt "
        "run on identical doubles. Scale: one hub-keyed exchange feeds "
        "both LAGs (same window, one Sort), then a map-side-combined "
        "moment aggregate collapses to hubs rows; the (hub, day) re-key "
        "documented on kyle_lambda applies unchanged if a hub's tape "
        "outgrows a task.",
    bench=True,  # joined the headline r8: first-round floor rule (BASELINE.md)
)
def roll_spread_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = derive_market(spark, sf_dir)
    d = t.withColumn("dp", price_change("trades"))
    p = (d.withColumn("dp_lag", F.lag("dp").over(tape_window("trades")))
          .filter(F.col("dp").isNotNull() & F.col("dp_lag").isNotNull()))
    m = p.groupBy("hub").agg(F.count("*").alias("n_obs"),
                             *moment_sums("dp", "dp_lag"))
    c = m.select("hub", "n_obs", pop_cov("n_obs").alias("serial_cov"))
    spread = F.when(F.col("serial_cov") < 0.0,
                    2.0 * F.sqrt(-F.col("serial_cov")))
    return c.select("hub", "n_obs", "serial_cov",
                    spread.alias("roll_spread"))


@register(
    "variance_ratio",
    oracle=f"""
    WITH {TICKS_CTE},
    d AS (SELECT hub, ts, tick_id, price_mwh,
                 {price_change_sql('ticks', 1)} AS dp,
                 {price_change_sql('ticks', 4)} AS dq
          FROM ticks),
    m AS (SELECT hub, CAST(COUNT(*) AS BIGINT) AS n_obs,
                 {moment_sums_sql('dp', 'dq')}
          FROM d WHERE dp IS NOT NULL AND dq IS NOT NULL
          GROUP BY hub)
    SELECT hub, n_obs, {pop_cov_sql('n_obs', 'x', 'x')} AS var_1,
           {pop_cov_sql('n_obs', 'y', 'y')} AS var_q,
           CASE WHEN n_obs >= 2 AND {co_moment_sql('n_obs', 'x', 'x')} > 0.0
                THEN ({pop_cov_sql('n_obs', 'y', 'y')})
                     / (4.0 * ({pop_cov_sql('n_obs', 'x', 'x')}))
                ELSE NULL END AS variance_ratio
    FROM m
    """,
    doc="Lo-MacKinlay variance-ratio test statistic per hub, VR(q=4) = "
        "Var(p_t - p_{t-q}) / (q * Var(p_t - p_{t-1})): the classic "
        "random-walk diagnostic — VR near 1 is a martingale tape, "
        "VR < 1 mean reversion (bid-ask bounce), VR > 1 momentum. "
        "Computed on price DIFFERENCES (not log returns — no "
        "transcendentals, so both engines run identical IEEE ops; same "
        "convention as roll_spread_estimator). Both horizon diffs are "
        "restricted to the SAME row set (both lags non-null) so the two "
        "variances are population moments over identical observations. "
        "Exactness: price changes on the tape, 6dp exact moment sums "
        "(functions/exact.py), identical double algebra both sides. "
        "Scale: ONE hub-keyed exchange feeds "
        "both LAGs (same window sort), map-side-combined moment "
        "aggregate collapses to hubs rows; (hub, day) re-key lever as "
        "documented on kyle_lambda if one hub's tape outgrows a task.",
)
def variance_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _ticks(spark, sf_dir)
    d = (t.withColumn("dp", price_change("ticks", 1))
          .withColumn("dq", price_change("ticks", 4))
          .filter(F.col("dp").isNotNull() & F.col("dq").isNotNull()))
    m = d.groupBy("hub").agg(F.count("*").alias("n_obs"),
                             *moment_sums("dp", "dq"))
    var1, var4 = pop_cov("n_obs", "x", "x"), pop_cov("n_obs", "y", "y")
    vr = F.when((F.col("n_obs") >= 2)
                & (co_moment("n_obs", "x", "x") > 0.0), var4 / (4.0 * var1))
    return m.select("hub", "n_obs", var1.alias("var_1"),
                    var4.alias("var_q"), vr.alias("variance_ratio"))


@register(
    "amihud_illiquidity",
    oracle=f"""
    WITH {TRADES_CTE},
    d AS (SELECT hub, date_trunc('day', ts) AS day,
                 ts, trade_id, mw, price_mwh,
                 {price_change_sql('trades', 1, 'day')} AS dp
          FROM trades),
    m AS (SELECT hub, day,
                 CAST(COUNT(*) AS BIGINT) AS n_trades,
                 {dsum_sql('ABS(dp)', 6)} AS abs_move_sum,
                 {NOTIONAL_SQL} AS notional_usd
          FROM d GROUP BY hub, day)
    SELECT hub, day, n_trades, abs_move_sum, notional_usd,
           CASE WHEN notional_usd > 0.0
                THEN 1000000.0 * abs_move_sum / notional_usd
                ELSE NULL END AS illiq
    FROM m
    """,
    doc="Amihud (2002) illiquidity ratio per (hub, day): 1e6 * "
        "sum|price move| / sum(traded notional) — price impact per "
        "dollar traded, THE standard liquidity proxy when no order-book "
        "data exists (the reference's tape has trades only, "
        "producer.py:36-70). Day-bounded moves: the LAG partitions by "
        "(hub, day) so an overnight gap never counts as intraday "
        "impact, and the first trade of a day contributes notional but "
        "no move (dp NULL -> dsum skips it, COUNT(*) still counts the "
        "trade — documented asymmetry, matched in the oracle). "
        "Exactness: dp identical IEEE subtract both engines, |dp| and "
        "notional via scaled-int64 dsum (6dp / 2dp), final ratio one "
        "double division. Scale: the (hub, day) LAG partitioning IS the "
        "scale story — no hub ever serializes more than one day of "
        "tape, the exchange key has hubs x days cardinality, and the "
        "moment aggregate map-side combines on the same key (zero extra "
        "shuffle after the window).",
)
def amihud_illiquidity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = derive_market(spark, sf_dir)
    d = (t.withColumn("day", F.date_trunc("day", F.col("ts")))
          .withColumn("dp", price_change("trades", 1, "day")))
    m = d.groupBy("hub", "day").agg(
        F.count("*").alias("n_trades"),
        dsum(F.abs(F.col("dp")), 6).alias("abs_move_sum"),
        notional().alias("notional_usd"))
    illiq = F.when(F.col("notional_usd") > 0.0,
                   1000000.0 * F.col("abs_move_sum") / F.col("notional_usd"))
    return m.select("hub", "day", "n_trades", "abs_move_sum",
                    "notional_usd", illiq.alias("illiq"))
