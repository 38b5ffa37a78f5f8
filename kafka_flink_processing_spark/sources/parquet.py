"""Parquet batch source for the driver testdata tables.

The reference's system-of-record is Postgres tables written by Flink JDBC
sinks (e.g. IngestPricesAndTradesJob.java:42-73); our batch engine reads
columnar parquet so Catalyst gets predicate pushdown + column pruning for
free. At 100 TB these would be date/hub-partitioned parquet or Delta tables;
the read path is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_processing_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Columns stored as parquet TIMESTAMP(NANOS), which Spark's µs-precision
# TimestampType cannot hold. We read them as raw nanos
# (spark.sql.legacy.parquet.nanosAsLong) and floor to µs — byte-identical to
# how DuckDB (the correctness oracle) converts the same files on read
# (verified: floor, not round). Testdata generations vary: some rounds write
# NANOS (→ LongType under the legacy flag), some write µs with
# isAdjustedToUTC=false (→ TimestampNTZType). Both are normalized to plain
# TimestampType here so every downstream plan sees one timestamp type.
_NANOS_TS_COLS = {"events": ("ts",)}

# Compute-dense tables: tiny on disk (snappy text / packed vectors compress
# a compute-heavy payload into one scan split) but each ROW costs real CPU
# downstream (regex scoring, shingle UDFs, dot products). A sub-MB file
# means a 1-task scan, serializing those stages on one core; fan the rows
# out once at load so per-row compute uses the whole machine. The shuffle
# moves <1 MB — noise. On a real cluster these corpora arrive as thousands
# of files and the repartition coalesces/spreads equally harmlessly;
# results are unaffected because every engine query is partition-count-
# independent by design (functions/exact.py, COVERAGE.md).
_COMPUTE_DENSE_TABLES = {"documents", "embeddings"}

# Inferred schemas by path, with the on-disk signature they were inferred
# from. Parquet schema inference runs a Spark job, and every registry query
# reloads its (unchanged) tables on each build; a rewritten file changes
# its signature and is inferred again.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _signature(path: str) -> tuple | None:
    """(relative path, size, mtime_ns) of the file, or of every file under
    the directory; None when the path is not on the local file system."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size,
                            st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    sig = _signature(path)
    if sig is None:
        return spark.read.parquet(path)
    cached = _SCHEMAS.get(path)
    if cached is None or cached[0] != sig:
        cached = _SCHEMAS[path] = (sig, spark.read.parquet(path).schema)
    return spark.read.schema(cached[1]).parquet(path)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->Timestamp normalization below is only value-preserving under
    # UTC; session.py pins it, but load_table accepts any session — pin here
    # too so a foreign session can't silently shift wall-clock values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            # integral `div` keeps full 64-bit precision (a float `/` would
            # round 1.7e18-scale nanos); values are post-epoch so div==floor
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    # µs-precision naive timestamps (TIMESTAMP_NTZ): reinterpret the wall
    # clock as UTC (session tz is pinned to UTC in session.py, so the cast
    # is value-preserving and matches DuckDB's naive read of the same file)
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name,
                               F.col(f"`{field.name}`").cast(T.TimestampType()))
    if name in _COMPUTE_DENSE_TABLES:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None,
                names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in names}


def register_views(spark: SparkSession, sf_dir: str | None = None,
                   names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register each testdata table as a temp view for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
