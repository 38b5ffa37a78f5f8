"""As-of join — the engine-native form of the reference's stateful
stream-stream correlation.

The reference's only two-input operator is `connect` + KeyedCoProcessFunction
(reference PnlAndExposureJob.java:50-51): each trade is enriched with the
last-known price on its hub. Batch-side that is exactly an AS-OF join. Spark
has no native ASOF, so we compose it from built-ins (SURVEY.md §2.5): tag
both sides, union, one window pass carrying the right side's values forward,
keep left rows.

Scale: ONE hash shuffle on the key + a sort within partitions — the same
cost as the keyed shuffle Flink performs; no O(n·m) range join, no skew
beyond the key's own distribution (AQE handles hot keys). This beats the
naive `left join right on key and right.ts <= left.ts` + max() formulation,
which explodes quadratically per key.

asof_join_sql renders it for DuckDB (the same tagged union and window
pass), carried_sql its carry step; tests/test_asof.py compares them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def carried(value_col: str, partition_by: Sequence[str | Column],
            order_by: Sequence[str | Column]) -> Column:
    """The carry step: the last non-null `value_col` at or before each
    row, per partition in `order_by` order."""
    w = (Window.partitionBy(*partition_by).orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, 0))
    return F.last(value_col, ignorenulls=True).over(w)


def carried_sql(value_col: str, partition_by: Sequence[str],
                order_by: Sequence[str]) -> str:
    return (f"LAST_VALUE({value_col} IGNORE NULLS) OVER ("
            f"PARTITION BY {', '.join(partition_by)}"
            f" ORDER BY {', '.join(order_by)}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              order_col: str, value_cols: Sequence[str],
              right_order_tiebreak: str) -> DataFrame:
    """For each left row, attach right's `value_cols` from the latest right
    row with the same key and right.order_col <= left.order_col.

    Ties at equal order_col match (right sorts before left); among right
    rows with identical (key, order_col), the one with the greatest
    `right_order_tiebreak` (a unique right column) wins. Left rows with
    no earlier right row get nulls.
    """
    def null(df: DataFrame, c: str) -> Column:
        # typed: lit(0).cast(...) can be NULL-or-error under ANSI mode
        return F.lit(None).cast(df.schema[c].dataType).alias(c)

    # the tiebreak rides along as __tb: a projection that dropped it would
    # leave equal-(key, ts) right rows in partition order
    tb = F.col(right_order_tiebreak).alias("__tb")
    keys = {*on, order_col}
    l_cols = [c for c in left.columns if c not in value_cols]
    l_tag = left.select(*l_cols, *[null(right, v) for v in value_cols],
                        F.lit(1).alias("__is_left"),
                        F.lit(None).cast(right.schema[right_order_tiebreak]
                                         .dataType).alias("__tb"))
    r_tag = right.select(*[c if c in keys else null(left, c) for c in l_cols],
                         *value_cols, F.lit(0).alias("__is_left"), tb)
    out = l_tag.union(r_tag)
    for v in value_cols:
        out = out.withColumn(
            v, carried(v, on, (order_col, "__is_left", "__tb")))
    return out.filter(F.col("__is_left") == 1).drop("__is_left", "__tb")


def asof_join_sql(left: str, right: str, on: Sequence[str], order_col: str,
                  value_cols: Sequence[str], right_order_tiebreak: str) -> str:
    """asof_join of the relations named `left` and `right` as a DuckDB
    query: left's columns, then `value_cols`. The union is by name, so
    each side's missing columns are typed NULLs."""
    keep = ", ".join([*on, order_col, *value_cols])
    order = (order_col, "__is_left", "__tb")
    filled = ", ".join(f"{carried_sql(v, on, order)} AS {v}"
                       for v in value_cols)
    return f"""
      SELECT * EXCLUDE (__is_left, __tb) FROM (
        SELECT * REPLACE ({filled}) FROM (
          SELECT *, 1 AS __is_left FROM {left}
          UNION ALL BY NAME
          SELECT {keep}, 0 AS __is_left,
                 {right_order_tiebreak} AS __tb FROM {right}))
      WHERE __is_left = 1"""
