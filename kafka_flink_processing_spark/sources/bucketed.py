"""Parquet data layouts — the parquet-native analogue of the reference
read store's Postgres B-tree indexes on (hub, ts) (init.sql:17,28,41,...):

- write_partitioned: Hive-style directory partitioning on low-cardinality
  keys, so equality/IN filters prune whole directories at planning time.
- zorder_column / write_zordered: Morton (Z-order) clustering over several
  numeric columns, so parquet min/max statistics prune files for
  multi-range box queries.

Both are measured in tests/test_layout.py. Join co-location by bucketing
needs no helper: DataFrameWriter.bucketBy(...).saveAsTable does it, and
tests/test_bucketing.py checks that the bucketed join runs without an
exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: Sequence[str]) -> None:
    """Hive-style directory partitioning (the other half of the layout
    story): equality/IN filters on partition_cols prune whole directories
    at planning time — the parquet analogue of the reference's B-tree
    lookups on (hub, ts) (init.sql:17). Partition by low-cardinality keys
    (hub, date) only; high-cardinality partitioning makes small files."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def zorder_column(df: DataFrame, cols: Sequence[str],
                  bits: int = 16) -> "tuple[DataFrame, str]":
    """Append a Morton/Z-order key column interleaving `cols` (numeric).

    Each column is min-max scaled to a `bits`-bit integer with ONE
    aggregate (O(cols) driver scalars), then the bit planes are
    interleaved JVM-side (pure shift/or expressions, whole-stage
    codegen) so rows close in Z-value are close in EVERY dimension.
    Returns (df_with_key, key_col_name)."""
    from pyspark.sql import functions as F

    # The interleaved key lives in a signed 64-bit long: bit 63 is the
    # sign bit (a top bit landing there flips high-Z rows negative and
    # breaks repartitionByRange ordering at the midpoint), and Spark's
    # shiftleft wraps shifts mod 64 (>4 cols at bits=16 silently corrupts
    # the key). Fail loudly instead.
    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder_column: bits*len(cols) = {bits}*{len(cols)} = "
            f"{bits * len(cols)} exceeds 63 — the Morton key must fit a "
            f"signed long; lower bits (e.g. {63 // len(cols)}) or drop a "
            f"column")
    stats = df.agg(*[f(c).alias(f"{f.__name__}_{c}")
                     for c in cols for f in (F.min, F.max)]).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo = float(stats[f"min_{c}"] or 0)
        hi = float(stats[f"max_{c}"] or 0)
        span = (hi - lo) or 1.0
        scaled.append(F.coalesce(
            F.round((F.col(c).cast("double") - F.lit(lo))
                    / F.lit(span) * F.lit(float(top))).cast("long"),
            F.lit(0)))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            plane = s.bitwiseAND(F.lit(1 << b)).cast("long")
            # bit b of dim i lands at position b*len(cols)+i
            shift = b * (len(cols) - 1) + i
            z = z.bitwiseOR(
                F.shiftleft(plane, shift) if shift >= 0 else plane)
    return df.withColumn("__z", z), "__z"


def write_zordered(df: DataFrame, path: str, cols: Sequence[str],
                   n_files: int, bits: int = 16) -> None:
    """Z-order (Morton-curve) data layout — the MULTI-dimensional
    data-skipping lever: directory partitioning prunes on one
    low-cardinality key, bucketing co-locates one join key, but a query
    filtering on several numeric ranges (hub-price boxes, time-value
    windows) needs every file's min/max footprint to be TIGHT IN ALL
    FILTERED DIMENSIONS at once. Range-partitioning + sorting by the
    interleaved Z-value gives every output file a small bounding box in
    each dimension, so parquet row-group/file min-max statistics prune
    most of a 100 TB table for box queries no directory scheme could
    serve (measured: tests/test_layout.py asserts the per-file
    footprint area shrinks vs the same data written unordered, and that
    a small box query intersects a fraction of the files).

    One extra exchange at WRITE time (repartitionByRange on the
    Z-value) buys every later multi-range read; n_files sizes output
    files (aim ~executor-task-sized at the target corpus)."""
    dfz, key = zorder_column(df, cols, bits)
    (dfz.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode("overwrite").parquet(path))
