"""The exact statistics (functions/exact.py): each Spark builder and its
DuckDB rendering must return the same frame over one hand table,
compared the way the oracle gate compares."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry
from kafka_flink_processing_spark.functions import exact as X
from tools.oracle_check import compare, duck_connection

# (g, k, x, y): groups of 1, 2, 5 (odd) and 6 (even) rows, x constant
# ("xconst") or y constant ("yconst"), negative values, x ties that only
# the key k orders, and 20 groups of 1e6 prices whose squares overflow an
# int64 sum and whose scaled products pass 2^53, where Spark's double ->
# decimal cast is not exact
_RNG = random.Random(7)
ROWS = [
    ("one", 1, 5.0, 2.0),
    ("two", 2, 1.5, -2.25), ("two", 3, 4.0, 3.5),
    ("odd", 10, -3.0, 1.0), ("odd", 11, 2.5, -4.5), ("odd", 12, 2.5, 0.5),
    ("odd", 13, -3.0, 2.0), ("odd", 14, 7.25, -1.75),
    ("even", 25, 0.5, 1.5), ("even", 24, -1.25, 2.0), ("even", 23, 0.5, 9.0),
    ("even", 22, 3.0, -1.0), ("even", 21, 3.0, 0.25), ("even", 20, -1.25, 4.0),
    ("xconst", 30, 2.0, 1.0), ("xconst", 31, 2.0, 3.0), ("xconst", 32, 2.0, 2.5),
    ("yconst", 40, 1.0, 7.5), ("yconst", 41, 4.0, 7.5), ("yconst", 42, -2.0, 7.5),
] + [(f"wide{j}", 100 + 24 * j + i, round(_RNG.uniform(999000, 1e6), 2),
      round(_RNG.uniform(999000, 1e6), 2))
      for j in range(20) for i in range(24)]


@pytest.fixture(scope="module")
def obs_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("stats_renderings")
    g, k, x, y = zip(*ROWS)
    pq.write_table(pa.table({"g": pa.array(g, pa.string()),
                             "k": pa.array(k, pa.int64()),
                             "x": pa.array(x, pa.float64()),
                             "y": pa.array(y, pa.float64())}),
                   path / "obs.parquet")
    return path


@pytest.fixture(scope="module")
def obs(spark, obs_dir):
    return spark.read.parquet(str(obs_dir / "obs.parquet"))


def _same(name, spark_df, data_dir, sql):
    con = duck_connection(str(data_dir))
    con.execute(f"CREATE VIEW obs AS SELECT * FROM "
                f"read_parquet('{data_dir / 'obs.parquet'}')")
    duck = con.execute(sql).fetchdf()
    spark_pdf = spark_df.toPandas()
    assert len(spark_pdf) > 0
    assert compare(name, spark_pdf, duck), name


@pytest.mark.parametrize("x,y,scale_x,scale_y", [
    ("x", "y", 6, 6), ("k", "y", 0, 6), ("y", "x", 2, 4)])
def test_moment_sums(obs, obs_dir, x, y, scale_x, scale_y):
    got = obs.groupBy("g").agg(F.count("*").alias("n"),
                               *X.moment_sums(x, y, scale_x, scale_y))
    _same("moment_sums", got, obs_dir,
          f"SELECT g, CAST(COUNT(*) AS BIGINT) AS n, "
          f"{X.moment_sums_sql(x, y, scale_x, scale_y)} FROM obs GROUP BY g")


def test_closed_forms(obs, obs_dir):
    m = obs.groupBy("g").agg(F.count("*").alias("n"), *X.moment_sums("x", "y"))
    got = m.select(
        "g", "n", X.co_moment("n").alias("co"),
        X.pop_cov("n").alias("cov"), X.pop_cov("n", "x", "x").alias("var_x"),
        X.pop_cov("n", "y", "y").alias("var_y"),
        X.ols_slope("n").alias("slope"),
        X.ols_intercept("n").alias("intercept"),
        X.pearson_r("n").alias("r"), X.r_squared("n").alias("r2"))
    _same("closed_forms", got, obs_dir, f"""
        WITH m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                          {X.moment_sums_sql('x', 'y')} FROM obs GROUP BY g)
        SELECT g, n, {X.co_moment_sql('n')} AS co,
               {X.pop_cov_sql('n')} AS cov,
               {X.pop_cov_sql('n', 'x', 'x')} AS var_x,
               {X.pop_cov_sql('n', 'y', 'y')} AS var_y,
               {X.ols_slope_sql('n')} AS slope,
               {X.ols_intercept_sql('n')} AS intercept,
               {X.pearson_r_sql('n')} AS r, {X.r_squared_sql('n')} AS r2
        FROM m""")


def test_degenerate_groups_are_null(obs):
    m = obs.groupBy("g").agg(F.count("*").alias("n"), *X.moment_sums("x", "y"))
    got = {r["g"]: r for r in m.select(
        "g", X.ols_slope("n").alias("slope"), X.pearson_r("n").alias("r"),
        X.r_squared("n").alias("r2"), X.pop_cov("n").alias("cov")).collect()}
    assert got["one"]["cov"] is None and got["one"]["slope"] is None
    assert got["xconst"]["slope"] is None and got["xconst"]["r"] is None
    assert got["yconst"]["slope"] is not None and got["yconst"]["r"] is None
    assert got["yconst"]["r2"] is None
    assert got["two"]["r"] in (-1.0, 1.0)


# ranks in (x, k) order: the value ties at x are ordered only by k, so a
# statistic of k shows the tie-break
@pytest.mark.parametrize("part", [("g",), ()])
@pytest.mark.parametrize("value", ["x", "k"])
def test_percentile_disc(obs, obs_dir, part, value):
    ps = (0.05, 0.25, 0.5, 0.95, 0.99)
    got = X.with_ranks(obs, part, ("x", "k")).groupBy(*part).agg(
        *[X.percentile_disc(p, value).alias(f"p{int(p * 100)}") for p in ps],
        F.max("n").alias("n"))
    cols = ", ".join(f"{X.percentile_disc_sql(p, value)} AS p{int(p * 100)}"
                     for p in ps)
    group = f" GROUP BY {', '.join(part)}" if part else ""
    _same("percentile_disc", got, obs_dir,
          f"SELECT {''.join(c + ', ' for c in part)}{cols}, MAX(n) AS n "
          f"FROM ({X.ranked_sql('obs', part, ('x', 'k'))}){group}")


@pytest.mark.parametrize("part", [("g",), ()])
@pytest.mark.parametrize("value", ["x", "k"])
def test_middle_mean(obs, obs_dir, part, value):
    got = (X.with_ranks(obs, part, ("x", "k")).filter(X.middle_ranks())
           .groupBy(*part).agg(X.middle_mean(value).alias("median")))
    group = f" GROUP BY {', '.join(part)}" if part else ""
    _same("middle_mean", got, obs_dir,
          f"SELECT {''.join(c + ', ' for c in part)}"
          f"{X.middle_mean_sql(value)} AS median "
          f"FROM ({X.ranked_sql('obs', part, ('x', 'k'))}) "
          f"WHERE {X.MIDDLE_RANKS_SQL}{group}")


@pytest.mark.parametrize("value", ["x", "k"])
def test_middle_sum(obs, obs_dir, value):
    got = (X.with_ranks(obs, ("g",), ("x", "k")).groupBy("g")
           .agg(X.middle_sum(value).alias("med2")))
    # DuckDB sums BIGINT into HUGEINT; the oracles cast it back
    kind = "BIGINT" if value == "k" else "DOUBLE"
    _same("middle_sum", got, obs_dir,
          f"SELECT g, CAST({X.middle_sum_sql(value)} AS {kind}) AS med2 "
          f"FROM ({X.ranked_sql('obs', ('g',), ('x', 'k'))}) GROUP BY g")


def test_middle_rank_statistics_by_hand(obs):
    ranked = X.with_ranks(obs, ("g",), ("x", "k"))
    med = {r["g"]: r["m"] for r in ranked.filter(X.middle_ranks())
           .groupBy("g").agg(X.middle_mean("k").alias("m")).collect()}
    med2 = {r["g"]: r["m2"] for r in ranked.groupBy("g")
            .agg(X.middle_sum("k").alias("m2")).collect()}
    # odd: (x, k) order is 10, 13, 11, 12, 14; even: 20, 24, 23, 25, 21, 22
    assert med["odd"] == 11.0 and med2["odd"] == 22
    assert med["even"] == (23 + 25) / 2 and med2["even"] == 23 + 25
    assert med["one"] == 1.0 and med2["one"] == 2


def test_wide_moments_need_wide_sums(obs):
    wide = obs.filter(F.col("g") == "wide0")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        wide.agg(X.dsum(F.col("x") * F.col("x"), 6)).collect()
    [row] = wide.agg(F.count("*").alias("n"), *X.moment_sums("x", "y")) \
        .select(X.pearson_r("n").alias("r")).collect()
    assert -1.0 <= row["r"] <= 1.0


def test_zipf_slope_of_one_token(spark, tmp_path):
    texts = ["a", "a a", "a"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["src0"] * len(texts), pa.string())}),
        tmp_path / "documents.parquet")
    name = "vocab_zipf_slope"
    got = entry.queries()[name](spark, str(tmp_path)).toPandas()
    duck = duck_connection(str(tmp_path)).execute(
        entry.oracle_sql()[name]).fetchdf()
    assert compare(name, got, duck)
    assert got["n_tokens"].tolist() == [1]
    assert got[["zipf_slope", "zipf_intercept"]].isna().all(axis=None)
