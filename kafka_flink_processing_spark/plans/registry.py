"""Query registry — every operator from SURVEY.md §2 instantiated on the
driver testdata tables, each paired with its DuckDB oracle SQL.

This is the single source for __spark_entry__.queries()/oracle_sql() and for
bench.py's headline set. Both return the queries in registration order. Column names are aliased identically in the Spark
plan and the oracle (the driver hash-compares by sorted column name).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    spark: QueryFn
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "",
             bench: bool = False) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QuerySpec(name, fn, oracle, doc, bench)
        return fn
    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.spark for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in QUERIES.items()
            if spec.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (import for side effect)."""
    global _LOADED
    if _LOADED:
        return
    from kafka_flink_processing_spark.plans import (  # noqa: F401
        relational,
        stateful,
        extensions,
        temporal,
        tpch,
        analytics,
        market,
    )
    _LOADED = True
