"""Driver-contract smoke: entry() runs on sf0.001, queries()/oracle_sql()
stay key-consistent."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"sma5", "sma20", "forecast_next"} <= set(df.columns)


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0
    # rows-only queries are a deliberate, visible choice: a new query
    # without an oracle must be added here
    assert set(qs) - set(oracles) == {
        "approx_distinct_users", "approx_quantiles_value",
        "kmeans_embeddings", "embedding_pca_variance"}


@pytest.mark.slow  # heavyweight (see pytest.ini tiers)
def test_queries_run_at_smoke_sf(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name
