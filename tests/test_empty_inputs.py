"""Empty-input sweep: every registered query must handle empty tables.

An empty input is a real production condition (an empty partition, a day
with no data, a fresh corpus), not an edge case: a query that throws on it
turns a quiet day into a failed pipeline run. Every registered query must
either return a well-formed (possibly empty) result or raise the documented
error listed here.
"""

from __future__ import annotations

import os

import pytest

from kafka_flink_processing_spark.plans import registry
from kafka_flink_processing_spark.schemas import TESTDATA_TABLES

pytestmark = pytest.mark.slow  # integration tier (see pytest.ini)

# Queries ALLOWED to raise on empty input, with the documented reason.
EXPECTED_EMPTY_RAISES = {
    "kmeans_embeddings":
        "kmeans_train raises ValueError by design: a codebook cannot be "
        "trained from zero vectors, and silently returning an empty "
        "codebook would poison every downstream IVF consumer.",
}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    td = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TESTDATA_TABLES:
        src = f"/root/testdata/sf0.001/{t}.parquet"
        if os.path.exists(src):
            (spark.read.parquet(src).limit(0)
             .write.mode("overwrite").parquet(f"{td}/{t}.parquet"))
    return td


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    failures = []
    for name, fn in registry.queries().items():
        try:
            # collect, not count: a count lets Catalyst prune every
            # computed column, so an error in one would never run
            fn(spark, empty_sf_dir).collect()
        except Exception as e:  # noqa: BLE001 — collect all, report once
            if name not in EXPECTED_EMPTY_RAISES:
                failures.append((name, repr(e)[:160]))
    assert not failures, failures
