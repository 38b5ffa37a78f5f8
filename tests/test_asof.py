"""as-of join semantics: cold start (left before any right), tie at equal
ts (right matches), latest-right-wins, key isolation; asof_join_sql, its
DuckDB rendering, returns the same rows."""

from __future__ import annotations

import pytest

import datetime as dt

import duckdb

from kafka_flink_processing_spark.operators.asof import (
    asof_join,
    asof_join_sql,
)
from tools.oracle_check import compare


def _ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "k1", _ts(5)),   # before any right row -> null
         (2, "k1", _ts(10)),  # equal ts to right@10 -> matches 100.0
         (3, "k1", _ts(25)),  # after right@20 -> 200.0
         (4, "k2", _ts(25))], # other key, right@7 -> 7.7
        "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(11, "k1", _ts(10), 100.0),
         (12, "k1", _ts(20), 200.0),
         (13, "k2", _ts(7), 7.7)],
        "rid long, k string, ts timestamp, px double")

    out = asof_join(left, right.select("k", "ts", "px", "rid"),
                    on=["k"], order_col="ts", value_cols=["px"],
                    right_order_tiebreak="rid")
    got = {r.lid: r.px for r in out.collect()}
    assert got == {1: None, 2: 100.0, 3: 200.0, 4: 7.7}


def test_asof_join_duplicate_right_ts_tiebreak(spark):
    left = spark.createDataFrame([(1, "k", _ts(10))], "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(11, "k", _ts(10), 1.0), (12, "k", _ts(10), 2.0)],
        "rid long, k string, ts timestamp, px double")
    out = asof_join(left, right.select("k", "ts", "px", "rid"),
                    on=["k"], order_col="ts", value_cols=["px"],
                    right_order_tiebreak="rid")
    assert out.collect()[0].px == 2.0  # greatest tiebreak wins


def test_asof_join_tiebreak_survives_adversarial_row_order(spark):
    # r5 review fix: the tiebreak column used to be dropped by the right-
    # side projection, so this test's "greatest tiebreak wins" held only by
    # single-partition sort stability. Present the tied rows in DESCENDING
    # tiebreak order across several partitions — only a real __tb sort key
    # can still pick the greatest rid.
    left = spark.createDataFrame([(1, "k", _ts(10))],
                                 "lid long, k string, ts timestamp")
    rows = [(rid, "k", _ts(10), float(rid)) for rid in range(50, 0, -1)]
    right = spark.createDataFrame(
        rows, "rid long, k string, ts timestamp, px double").repartition(8)
    out = asof_join(left, right, on=["k"], order_col="ts",
                    value_cols=["px"], right_order_tiebreak="rid")
    assert out.collect()[0].px == 50.0


def test_asof_join_sql_matches_asof_join(spark):
    # a left row before the first right row, one at the ts of two right
    # rows (the greater rid wins), a key with no right rows, and a right
    # side written greater rid first
    left = spark.createDataFrame(
        [(1, "k1", _ts(5)), (2, "k1", _ts(10)), (3, "k1", _ts(25)),
         (4, "k2", _ts(25)), (5, "k3", _ts(1))],
        "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        [(12, "k1", _ts(10), 2.0), (11, "k1", _ts(10), 1.0),
         (13, "k1", _ts(20), 200.0), (14, "k2", _ts(7), 7.7)],
        "rid long, k string, ts timestamp, px double")
    got = asof_join(left, right, on=["k"], order_col="ts",
                    value_cols=["px"], right_order_tiebreak="rid")
    con = duckdb.connect()
    con.register("l", left.toPandas())
    con.register("r", right.toPandas())
    duck = con.execute(
        asof_join_sql("l", "r", ["k"], "ts", ["px"], "rid")).fetchdf()
    assert list(duck.columns) == got.columns == ["lid", "k", "ts", "px"]
    assert compare("asof", got.toPandas(), duck)
    assert {r.lid: r.px for r in got.collect()} == \
        {1: None, 2: 2.0, 3: 200.0, 4: 7.7, 5: None}


# --- r5: differential property test (the tiebreak bug found in review
# would have been caught by this: random inputs with heavy ts collisions,
# distributed result vs a straight-line Python spec) ---

from hypothesis import given, settings, strategies as st  # noqa: E402


def _asof_spec(left_rows, right_rows):
    """{lid: px} per the operator contract: latest right row with same key
    and right.ts <= left.ts; ties at equal ts resolved by greatest rid."""
    out = {}
    for lid, k, lts in left_rows:
        best = None
        for rid, rk, rts, px in right_rows:
            if rk == k and rts <= lts:
                if best is None or (rts, rid) > (best[0], best[1]):
                    best = (rts, rid, px)
        out[lid] = best[2] if best else None
    return out


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2),      # key
                          st.integers(0, 5)),     # ts bucket (forces ties)
                min_size=1, max_size=12),
       st.lists(st.tuples(st.integers(0, 2),
                          st.integers(0, 5),
                          st.integers(0, 99)),    # px payload
                min_size=1, max_size=12))
@pytest.mark.slow  # heavyweight (see pytest.ini tiers)
def test_asof_join_matches_python_spec(spark, lefts, rights):
    left_rows = [(i, f"k{k}", _ts(t)) for i, (k, t) in enumerate(lefts)]
    right_rows = [(i, f"k{k}", _ts(t), float(px))
                  for i, (k, t, px) in enumerate(rights)]
    left = spark.createDataFrame(left_rows,
                                 "lid long, k string, ts timestamp")
    right = spark.createDataFrame(
        right_rows, "rid long, k string, ts timestamp, px double") \
        .repartition(4)  # adversarial: tie order must not matter
    out = asof_join(left, right, on=["k"], order_col="ts",
                    value_cols=["px"], right_order_tiebreak="rid")
    got = {r.lid: r.px for r in out.collect()}
    want = _asof_spec([(i, f"k{k}", _ts(t)) for i, (k, t) in enumerate(lefts)],
                      right_rows)
    assert got == want
