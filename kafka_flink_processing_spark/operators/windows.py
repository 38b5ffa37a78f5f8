"""Window-function operators — the reference's stateful analytics as
declarative row-frame windows.

Batch equivalents of the reference's keyed process functions:

- rolling_sma_forecast: ForecastFunction — per-hub rolling SMA(5)/SMA(20)
  ring buffers emitting on every tick (reference ForecastsJob.java:76-88).
  A count-based ring buffer that averages over fewer rows while warming up
  is exactly a ROWS BETWEEN (n-1) PRECEDING AND CURRENT ROW frame;
  lag_chain_avg_sql is its oracle rendering (every SMA oracle uses it).
- last_value_carried_forward: the lastPrice ValueState
  (reference PnlAndExposureJob.java:107-109,130,134-136), the as-of
  join's carry step.
- latest_per_key: the read-side `SELECT DISTINCT ON (account,hub) ...
  ORDER BY ts DESC` snapshot query (reference README.md:92-96) in portable
  row_number form.
- top_k: `ORDER BY ts DESC LIMIT n` (reference README.md:86-100).

Scale notes: each Window.partitionBy is one hash-shuffle on the key — the
same exchange Flink's keyBy performs. Frames are bounded (<=20 rows), so
state per key is O(1); skewed keys are handled by AQE. No Python in the
hot path — everything stays inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.asof import carried


def _order_cols(order_by: Sequence[str | Column], desc: bool = False) -> list[Column]:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    return [c.desc() for c in cols] if desc else cols


# The reference ForecastFunction's two ring buffers (ForecastsJob.java:
# 77-88), shared by the batch window plan and the streaming state fold
# (streaming/stateful.py::_sma_rows).
SMA_SHORT = 5
SMA_LONG = 20


def rolling_sma_forecast(df: DataFrame,
                         partition_by: Sequence[str],
                         order_by: Sequence[str],
                         value_col: str) -> DataFrame:
    """Per-key rolling simple moving averages + naive forecast.

    Emits one row per input row with sma5, sma20 computed over the
    trailing SMA_SHORT/SMA_LONG rows (fewer during warm-up — the
    reference emits from the very first row, ForecastsJob.java:86-87) and
    `forecast_next = sma5` (ForecastsJob.java:84).
    """
    w = Window.partitionBy(*partition_by).orderBy(*_order_cols(order_by))
    sma_s = F.avg(value_col).over(w.rowsBetween(-(SMA_SHORT - 1), 0))
    sma_l = F.avg(value_col).over(w.rowsBetween(-(SMA_LONG - 1), 0))
    return (df
            .withColumn(f"sma{SMA_SHORT}", sma_s)
            .withColumn(f"sma{SMA_LONG}", sma_l)
            .withColumn("forecast_next", F.col(f"sma{SMA_SHORT}")))


def lag_chain_avg_sql(col: str, n: int) -> str:
    """Oracle SQL for a trailing-n moving average of `col` over the window
    named `w`, as an explicit oldest->newest lag chain.

    Reproduces Spark's SlidingWindowFunctionFrame fold order bitwise (DuckDB's
    own AVG OVER a 20-row frame uses a segment tree whose combine order drifts
    from Spark's by ~1e-14 — enough to break an exact value-hash check).
    """
    terms = [f"COALESCE(LAG({col}, {k}) OVER w, 0.0)"
             for k in range(n - 1, 0, -1)]
    terms.append(col)
    return (f"({' + '.join(terms)})"
            f" / CAST(LEAST(ROW_NUMBER() OVER w, {n}) AS DOUBLE)")


def last_value_carried_forward(df: DataFrame,
                               partition_by: Sequence[str],
                               order_by: Sequence[str],
                               value_col: str,
                               out_col: str = "last_value") -> DataFrame:
    """Running last non-null value per key (ValueState<Double> lastPrice,
    reference PnlAndExposureJob.java:130,134-136): the as-of join's
    carry step (operators/asof.py::carried; carried_sql renders it)."""
    return df.withColumn(out_col, carried(value_col, partition_by, order_by))


def latest_per_key(df: DataFrame,
                   partition_by: Sequence[str],
                   order_by: Sequence[str]) -> DataFrame:
    """Latest row per key — portable DISTINCT ON (reference README.md:92-96).

    order_by columns are ranked DESC; include a unique tie-breaker for
    determinism. The ranking window shuffles once on the key; at scale this
    beats a self-join-on-max(ts) (one exchange instead of two).
    """
    w = Window.partitionBy(*partition_by).orderBy(*_order_cols(order_by, desc=True))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .drop("__rn"))


def top_k(df: DataFrame, order_by: Sequence[str], k: int,
          desc: bool = True) -> DataFrame:
    """Global top-k (reference README.md:86: ORDER BY ts DESC LIMIT 8).

    Spark plans this as TakeOrderedAndProject — per-partition heap of k then
    a k-row merge on the driver; no global sort even at 100 TB.
    """
    return df.orderBy(*_order_cols(order_by, desc=desc)).limit(k)
