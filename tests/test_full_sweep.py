"""Crash canary: every registered query must execute end-to-end.

The driver smoke-checks only entry(). This sweep runs ALL registered
queries at sf0.001, including the rows-only ones the oracle gate cannot
hash-check, so a regression in a rarely-run query (an import error, a
renamed column, a broken plan) fails CI-style. ~80 s.
"""

from __future__ import annotations

import pytest

from kafka_flink_processing_spark.plans import registry

pytestmark = pytest.mark.slow  # integration tier (see pytest.ini)

SF = "/root/testdata/sf0.001"


def test_every_registered_query_executes(spark):
    failures = []
    for name, fn in registry.queries().items():
        try:
            df = fn(spark, SF)
            cols = df.columns
            assert cols, "no columns"
            assert len(cols) == len(set(cols)), f"duplicate columns: {cols}"
            df.count()  # force full execution
        except Exception as e:  # noqa: BLE001 — collect all, report once
            failures.append((name, repr(e)[:200]))
    assert not failures, failures
