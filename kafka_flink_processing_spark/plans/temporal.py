"""Time-windowed aggregation variants + the DA/RT as-of comparison demo.

SURVEY.md §2.6: the reference's windows are count-based (5/20-row ring
buffers, ForecastsJob.java:83-86) and it has NO tumbling/sliding/session
windows — these are engine extensions, clearly marked as such. They are the
natural Spark idiom for the same data (`F.window` compiles to a codegen'd
bucket expression — one shuffle on (window, key), identical to a groupBy),
and in streaming mode the exact same expressions run under a watermark.

SURVEY.md §2.7: README.md:98-100 implies a DA-vs-RT comparison ("latest
day-ahead vs real-time"); the natural engine form is an as-of join of the
dense RT stream against the sparse DA stream per hub with `basis = rt - da`
— included here as `da_rt_asof_basis`.

Scale notes: every query below is one hash-shuffle wide (group-by or
window partition), all-JVM (no Python), with exact long-scaled sums
(functions/exact.py) so results are identical on any partition count.
Session windows use the lag+cumulative-sum formulation rather than a
stateful UDF: two window passes over ONE shuffle on user_id, fully
codegen'd — the 100 TB-safe batch form of `F.session_window`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.exact import dsum, dsum_sql
from kafka_flink_processing_spark.operators.asof import asof_join, asof_join_sql
from kafka_flink_processing_spark.plans.registry import register
from kafka_flink_processing_spark.sources.events_market import (
    DA_CTE,
    RT_CTE,
    TICKS_CTE,
    derive_da_rt,
    derive_market,
)
from kafka_flink_processing_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# Tumbling window (engine extension; streaming-ready expression)
# --------------------------------------------------------------------------

@register(
    "tumbling_window_stats",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="1-hour tumbling window stats per event_type (engine extension, "
        "SURVEY.md §2.6 — the reference has only count-based windows). "
        "F.window is a codegen'd bucket expression: same plan as a groupBy, "
        "one shuffle on (window, event_type).",
    bench=True,
)
def tumbling_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count("*").alias("n_events"),
                   dsum("value").alias("sum_value"),
                   F.min("value").alias("min_value"),
                   F.max("value").alias("max_value"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "event_type", "n_events", "sum_value",
                      "min_value", "max_value"))


@register(
    "streaming_tumbling_stats",
    oracle=f"""
    WITH {TICKS_CTE}
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL '1 hour' AS window_end,
           hub,
           COUNT(*) AS n_ticks,
           {dsum_sql('price_mwh')} AS sum_price,
           MIN(price_mwh) AS min_price,
           MAX(price_mwh) AS max_price
    FROM ticks GROUP BY 1, 2, 3
    """,
    doc="tumbling window stats via Structured Streaming (complete-mode "
        "windowed aggregation, availableNow drain) hash-matched against the "
        "batch SQL oracle — unified batch/streaming semantics for windowed "
        "aggs; watermarked append-mode variant covered in "
        "tests/test_streaming_windows.py.",
)
def streaming_tumbling_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.streaming.sinks import (
        drain_streaming_result,
    )
    from kafka_flink_processing_spark.streaming.windows import (
        streaming_tumbling_stats,
    )

    _, prices = derive_market(spark, sf_dir)
    return drain_streaming_result(
        prices, lambda s: streaming_tumbling_stats(s, "1 hour"), "twin",
        output_mode="complete")


# --------------------------------------------------------------------------
# Sliding window (engine extension)
# --------------------------------------------------------------------------

_SLIDE_STARTS = ", ".join(
    f"time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '{m} minutes'"
    for m in (45, 30, 15, 0))

@register(
    "sliding_window_stats",
    oracle=f"""
    WITH w AS (
      SELECT unnest([{_SLIDE_STARTS}]) AS window_start, value
      FROM events
    )
    SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value,
           {dsum_sql('value')} / COUNT(*) AS avg_value
    FROM w GROUP BY 1, 2
    """,
    doc="1-hour window sliding by 15 minutes (engine extension). Each row "
        "lands in exactly 4 epoch-aligned windows; Spark's F.window explodes "
        "then aggregates — output ~4x input pre-combine, map-side partial "
        "agg keeps the shuffle at |windows| rows.",
)
def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
              .agg(F.count("*").alias("n_events"),
                   dsum("value").alias("sum_value"),
                   (dsum("value") / F.count("*")).alias("avg_value"))
              .select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "n_events", "sum_value", "avg_value"))


# --------------------------------------------------------------------------
# Session window (engine extension)
# --------------------------------------------------------------------------

# Sessionization semantics (gap constant, boundary rule, tie-break) live
# in ONE place — operators/sessionize.py — shared with session_funnel.
from kafka_flink_processing_spark.operators.sessionize import (  # noqa: E402
    session_cte_sql,
    with_session_id,
)


@register(
    "session_window_stats",
    oracle=f"""
    WITH {session_cte_sql('value')}
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM sess GROUP BY 1, 2
    """,
    doc="gap-based sessionization (30-min inactivity) per user — engine "
        "extension. lag + cumulative-sum boundary numbering: the batch form "
        "of F.session_window, two codegen'd window passes over ONE shuffle "
        "on user_id (microsecond-integer gap arithmetic, cross-engine "
        "exact). Session semantics shared with session_funnel via "
        "operators/sessionize.py.",
    bench=True,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    sessions = with_session_id(ev)
    return (sessions.groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 dsum("value").alias("sum_value")))


# --------------------------------------------------------------------------
# DA vs RT as-of comparison (SURVEY.md §2.7, README.md:98-100)
# --------------------------------------------------------------------------

@register(
    "da_rt_asof_basis",
    oracle=f"""
    WITH {RT_CTE}, {DA_CTE}
    SELECT rt_id, hub, ts, lmp_rt, lmp_da, lmp_rt - lmp_da AS basis
    FROM ({asof_join_sql('rt', 'da', ['hub'], 'ts', ['lmp_da'], 'da_id')})
    """,
    doc="DA-vs-RT comparison (README.md:98-100's implied query as an as-of "
        "join, SURVEY.md §2.7): each dense RT tick enriched with the latest "
        "sparse DA price on its hub, basis = rt - da (null before the first "
        "DA print). Tagged-union + one window pass — single shuffle on hub.",
)
def da_rt_asof_basis(spark: SparkSession, sf_dir: str) -> DataFrame:
    rt, da = derive_da_rt(spark, sf_dir)
    out = asof_join(rt, da, on=["hub"], order_col="ts",
                    value_cols=["lmp_da"], right_order_tiebreak="da_id")
    return out.select("rt_id", "hub", "ts", "lmp_rt", "lmp_da",
                      (F.col("lmp_rt") - F.col("lmp_da")).alias("basis"))


# --------------------------------------------------------------------------
# GROUPING SETS (completes the rollup/cube family, SURVEY.md §2.5)
# --------------------------------------------------------------------------

@register(
    "grouping_sets_revenue",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           {dsum_sql('o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """,
    doc="explicit GROUPING SETS over orders (4 sets incl. grand total) with "
        "GROUPING() null-vs-group disambiguation — completes the "
        "rollup/cube family (SURVEY.md §2.5). One expand + one shuffle; "
        "exact long-scaled revenue.",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (orders
            .groupingSets([["o_orderpriority", "o_orderstatus"],
                           ["o_orderpriority"], ["o_orderstatus"], []],
                          "o_orderpriority", "o_orderstatus")
            .agg(F.grouping("o_orderpriority").cast("long").alias("g_priority"),
                 F.grouping("o_orderstatus").cast("long").alias("g_status"),
                 dsum("o_totalprice").alias("revenue"),
                 F.count("*").alias("n_orders"))
            .select("o_orderpriority", "o_orderstatus", "g_priority",
                    "g_status", "revenue", "n_orders"))


# --------------------------------------------------------------------------
# Bucketed range join (engine extension; the scale-safe non-equi time join)
# --------------------------------------------------------------------------

_ATTR_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute attribution window

@register(
    "range_join_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts, epoch_us(ts) AS l_us
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, epoch_us(ts) AS r_us, value
      FROM events WHERE event_type = 'click'
    ), m AS (
      SELECT p.purchase_id,
             COUNT(*) AS n_clicks,
             {dsum_sql('c.value')} AS sum_click_value
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.r_us > p.l_us - {_ATTR_WINDOW_US}
       AND c.r_us <= p.l_us
      GROUP BY 1
    )
    SELECT p.purchase_id, p.user_id, p.ts,
           COALESCE(m.n_clicks, 0) AS n_clicks,
           COALESCE(m.sum_click_value, 0.0) AS sum_click_value
    FROM p LEFT JOIN m USING (purchase_id)
    """,
    doc="click->purchase attribution: for every purchase, the count and "
        "value of the same user's clicks in the preceding 30 minutes — a "
        "time-RANGE join (engine extension; the reference has no joins at "
        "all, SURVEY.md §2.5). Implemented as the bucketed rewrite "
        "(operators/range_join.py): equi-join on (user_id, 30-min bucket) "
        "with a 2-bucket probe + exact range re-check, instead of the "
        "nested-loop plan a raw BETWEEN predicate would get — hash-join "
        "shuffle-parallel and AQE-skew-splittable at 100 TB. Purchases "
        "with no clicks are kept via a post-aggregation left join.",
    bench=True,
)
def range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.range_join import (
        bucketed_range_join,
    )

    ev = load_table(spark, "events", sf_dir)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select(F.col("event_id").alias("purchase_id"),
                           "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"),
                        F.col("value").alias("click_value")))
    pairs = bucketed_range_join(purchases, clicks, on=["user_id"],
                                left_ts="ts", right_ts="click_ts",
                                lower_us=-_ATTR_WINDOW_US, upper_us=0)
    matched = (pairs.groupBy("purchase_id")
               .agg(F.count("*").alias("n_clicks"),
                    dsum("click_value").alias("sum_click_value")))
    return (purchases.join(matched, "purchase_id", "left")
            .select("purchase_id", "user_id", "ts",
                    F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                    F.coalesce("sum_click_value", F.lit(0.0))
                     .alias("sum_click_value")))


# --------------------------------------------------------------------------
# Multi-granularity time rollup (hypertable-style continuous aggregate)
# --------------------------------------------------------------------------

@register(
    "time_rollup_multigrain",
    oracle=f"""
    SELECT event_type,
           date_trunc('day', ts) AS day,
           date_trunc('hour', ts) AS hour,
           CAST(GROUPING(date_trunc('day', ts)) AS BIGINT) AS g_day,
           CAST(GROUPING(date_trunc('hour', ts)) AS BIGINT) AS g_hour,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events
    GROUP BY event_type,
             ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
    doc="hourly, daily, and all-time aggregates per event_type in ONE pass "
        "— the hypertable/continuous-aggregate rollup shape, as a partial "
        "ROLLUP (plain key + two time grains). Spark expands the grouping "
        "sets map-side and shuffles once; at 100 TB this replaces three "
        "separate scans with one, and the coarse grains ride along almost "
        "free (they aggregate the fine grain's partials).",
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, "events", sf_dir)
          .withColumn("day", F.date_trunc("day", F.col("ts")))
          .withColumn("hour", F.date_trunc("hour", F.col("ts"))))
    return (ev.groupingSets([["event_type", "day", "hour"],
                             ["event_type", "day"],
                             ["event_type"]],
                            "event_type", "day", "hour")
            .agg(F.grouping("day").cast("long").alias("g_day"),
                 F.grouping("hour").cast("long").alias("g_hour"),
                 F.count("*").alias("n_events"),
                 dsum("value").alias("sum_value"))
            .select("event_type", "day", "hour", "g_day", "g_hour",
                    "n_events", "sum_value"))


# --------------------------------------------------------------------------
# Time-RANGE window frame (value-based frame; the reference has only
# count-based ROWS frames — ForecastsJob.java:83-86)
# --------------------------------------------------------------------------

@register(
    "time_range_moving_avg",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, ts, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      FROM events
    )
    SELECT event_id, event_type, ts, value,
           CAST(COUNT(value) OVER w AS BIGINT) AS n_5min,
           (CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) OVER w AS DOUBLE)
            / 10000.0) / COUNT(value) OVER w AS avg_5min
    FROM e
    WINDOW w AS (PARTITION BY event_type ORDER BY ts_sec
                 RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
    """,
    doc="trailing 5-minute moving average per event_type — a RANGE (value-"
        "based) window frame over event time, vs the reference's count-based "
        "ROWS frames (SURVEY.md §2.6). Frame key = floor(epoch seconds) on "
        "BOTH engines so frame membership is bit-identical; the windowed sum "
        "is long-scaled (functions/exact.py) because a variable-size frame "
        "cannot use the lag-chain oracle trick. Partitioned by (event_type, "
        "day) — NOT bare event_type, which at 100 TB makes one sort "
        "partition hold corpus/|event_type| rows: each day's last 300 "
        "seconds are duplicated into the next day's partition as "
        "frame-feeder rows (output-suppressed), so every trailing frame is "
        "complete and the result is bit-identical to the single-partition "
        "form while partitions stay day-sized. Ties on the same second are "
        "peers in both engines, so the result is order-deterministic.",
)
def time_range_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, "events", sf_dir)
          .withColumn("ts_sec", F.col("ts").cast("long"))
          .withColumn("day", F.to_date("ts")))
    # boundary carry: rows in a day's trailing 300 s feed the next day's
    # first frames; emitted once (carry copies are filtered post-window)
    next_day_start = F.unix_timestamp(
        F.date_add(F.col("day"), 1).cast("timestamp"))
    main = ev.withColumn("is_carry", F.lit(False))
    carry = (ev.filter(F.col("ts_sec") >= next_day_start - 300)
               .withColumn("day", F.date_add(F.col("day"), 1))
               .withColumn("is_carry", F.lit(True)))
    u = main.unionByName(carry)
    w = (Window.partitionBy("event_type", "day").orderBy("ts_sec")
         .rangeBetween(-300, 0))
    scaled = F.round(F.col("value") * 10000).cast("long")
    n = F.count("value").over(w)
    return (u.select(
                "event_id", "event_type", "ts", "value", "is_carry",
                n.cast("long").alias("n_5min"),
                ((F.sum(scaled).over(w).cast("double") / 10000.0) / n)
                .alias("avg_5min"))
             .filter(~F.col("is_carry"))
             .drop("is_carry"))


_ASOF_TOL_US = 2 * 3600 * 1_000_000  # 2-hour max quote staleness


@register(
    "da_rt_asof_tolerance",
    oracle=f"""
    WITH {RT_CTE}, {DA_CTE},
    da_t AS (SELECT *, ts AS da_ts FROM da),
    filled AS ({asof_join_sql('rt', 'da_t', ['hub'], 'ts',
                              ['lmp_da', 'da_ts'], 'da_id')})
    SELECT rt_id, hub, ts, lmp_rt,
           epoch_us(ts) - epoch_us(da_ts) AS da_age_us,
           CASE WHEN epoch_us(ts) - epoch_us(da_ts) <= {_ASOF_TOL_US}
                THEN lmp_da END AS lmp_da_bounded,
           CASE WHEN epoch_us(ts) - epoch_us(da_ts) <= {_ASOF_TOL_US}
                THEN lmp_rt - lmp_da END AS basis
    FROM filled
    """,
    doc="as-of join WITH a staleness tolerance: each RT tick takes the "
        "latest DA price on its hub ONLY if that quote is at most 2 hours "
        "old — the bounded-staleness form every market-data as-of API "
        "exposes (pandas merge_asof's `tolerance`), and the honest one at "
        "scale: an unbounded as-of happily carries a week-old quote "
        "across a data gap and calls it a basis. Composed from the SAME "
        "asof_join operator (operators/asof.py) by carrying the matched "
        "row's timestamp as a second value column and null-gating on the "
        "integer-microsecond age — no new shuffle, the one hub-keyed "
        "window pass unchanged; the age test is exact int arithmetic.",
)
def da_rt_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    rt, da = derive_da_rt(spark, sf_dir)
    da = da.withColumn("da_ts", F.col("ts"))
    out = asof_join(rt, da, on=["hub"], order_col="ts",
                    value_cols=["lmp_da", "da_ts"],
                    right_order_tiebreak="da_id")
    age = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("da_ts"))
    fresh = age <= _ASOF_TOL_US
    return out.select(
        "rt_id", "hub", "ts", "lmp_rt",
        age.alias("da_age_us"),
        F.when(fresh, F.col("lmp_da")).alias("lmp_da_bounded"),
        F.when(fresh, F.col("lmp_rt") - F.col("lmp_da")).alias("basis"))
