"""Streaming time-windowed aggregations (engine extension, SURVEY.md §2.6).

The reference has no time windows and no watermarks (count-based ring
buffers only, ForecastsJob.java:83-86; WatermarkStrategy.noWatermarks()
everywhere) — these are the Structured Streaming idioms the engine adds on
top of parity:

- streaming_tumbling_stats: groupBy(window(ts), hub) aggregation. Without a
  watermark it is a complete-mode result table; WITH a watermark it runs
  append-mode — windows emit once, finalized, when the watermark passes
  their end, and late rows beyond the allowed delay are dropped (asserted
  in tests/test_streaming_windows.py).
- streaming_session_stats: groupBy(session_window(ts, 30 minutes), hub)
  aggregation; a later micro-batch can extend, and so merge, a session
  held in state.

The aggregate expressions are the same exact long-scaled sums the batch
plan uses (plans/temporal.py::tumbling_window_stats), so batch and
streaming results are hash-identical on the same input — the unified-
semantics property, verified by the registry oracle.

Scale: identical exchange structure to the batch groupBy (one shuffle on
(window, key)); streaming state per open window-key pair is one partial
aggregate, and the watermark bounds how many windows stay open.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.exact import dsum


def streaming_tumbling_stats(prices: DataFrame,
                             window: str = "1 hour",
                             watermark_delay: str | None = None) -> DataFrame:
    """Per-(window, hub) tick stats over a streaming price feed.

    watermark_delay=None  -> complete-mode aggregation (no late-data bound;
                             result table is the full history).
    watermark_delay="10 minutes" -> append-mode: each window emits exactly
                             once when the watermark (max event time seen
                             minus the delay) passes its end; rows arriving
                             later than the delay are dropped.
    """
    src = prices
    if watermark_delay is not None:
        src = src.withWatermark("ts", watermark_delay)
    return (src.groupBy(F.window("ts", window).alias("w"), "hub")
               .agg(F.count("*").alias("n_ticks"),
                    dsum("price_mwh").alias("sum_price"),
                    F.min("price_mwh").alias("min_price"),
                    F.max("price_mwh").alias("max_price"))
               .select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       "hub", "n_ticks", "sum_price",
                       "min_price", "max_price"))


def streaming_session_stats(prices: DataFrame) -> DataFrame:
    """Per-(30-minute-gap session, hub) tick count and exact price sum
    over a price feed, complete mode (no watermark)."""
    return (prices.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                           "hub")
                  .agg(F.count("*").alias("n_ticks"),
                       dsum("price_mwh").alias("sum_price"))
                  .select("hub",
                          F.col("w.start").alias("session_start"),
                          F.col("w.end").alias("session_end"),
                          "n_ticks", "sum_price"))
