"""tools/oracle_fuzz.py's command line: every listed corpus runs, a query
name that is not registered is an error, and a selection with nothing to
check exits non-zero without starting Spark. Its family lists leave no
single-table oracle out."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import oracle_fuzz  # noqa: E402


def test_corpus_takes_a_list_and_repeats():
    args = oracle_fuzz.parse_args(
        ["--corpus", "events_ties", "events_sparse", "events_extreme"])
    assert args.corpus == ["events_ties", "events_sparse", "events_extreme"]
    assert args.queries == []
    args = oracle_fuzz.parse_args(
        ["ewma_price", "--corpus", "events_ties", "--corpus", "unicode"])
    assert args.corpus == ["events_ties", "unicode"]
    assert args.queries == ["ewma_price"]


@pytest.mark.parametrize("argv", [
    ["--corpus", "events_ties", "no_such_query"],   # the old silent filter
    ["--corpus", "no_such_corpus"],
])
def test_unknown_names_are_rejected(argv, capsys):
    with pytest.raises(SystemExit) as exc:
        oracle_fuzz.parse_args(argv)
    assert exc.value.code == 2
    assert "no_such" in capsys.readouterr().err


def test_zero_checks_exit_non_zero(monkeypatch, capsys):
    """kmeans_embeddings is registered but has no oracle, so nothing can
    be checked: the run fails before it builds a session."""
    def no_session(*_a, **_k):
        raise AssertionError("a selection with no checks started Spark")

    monkeypatch.setattr(oracle_fuzz, "get_spark", no_session)
    assert "kmeans_embeddings" not in oracle_fuzz.entrymod.oracle_sql()
    assert oracle_fuzz.main(
        ["kmeans_embeddings", "--corpus", "emb_degenerate"]) == 1
    assert "no checks to run" in capsys.readouterr().out


def test_every_single_table_oracle_has_a_fuzz_family():
    """An oracle reading only fuzzed tables (documents, events,
    embeddings) runs on some corpus or is excluded with a reason."""
    import re

    from kafka_flink_processing_spark.schemas import TESTDATA_TABLES

    fuzzed = {"documents", "events", "embeddings"}
    listed = (set(oracle_fuzz.DOC_QUERIES) | set(oracle_fuzz.TOTAL_TEXT)
              | set(oracle_fuzz.EVENT_QUERIES) | set(oracle_fuzz.EMB_QUERIES)
              | set(oracle_fuzz.MEDIA_QUERIES) | set(oracle_fuzz.FUZZ_EXCLUDED))
    unlisted = []
    for name, sql in oracle_fuzz.entrymod.oracle_sql().items():
        tables = {t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", sql)}
        if tables and tables <= fuzzed and name not in listed:
            unlisted.append(name)
    assert unlisted == []
