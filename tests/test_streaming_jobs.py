"""The streaming jobs end to end through the one write path
(streaming/sinks.py): exactly-once parquet epochs that equal the batch
plans row for row, and per-epoch caches that a failed write does not
leak. The JDBC fan-out is in tests/test_jdbc_sink.py."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.pnl import (
    pnl_positions,
    price_exposure,
)
from kafka_flink_processing_spark.operators.windows import rolling_sma_forecast
from kafka_flink_processing_spark.sources.events_market import derive_market
from kafka_flink_processing_spark.streaming.jobs import (
    ccnet_quality_filter_job,
    decontamination_job,
    forecasts_job,
    incremental_dedup_job,
    pnl_job,
)
from kafka_flink_processing_spark.streaming.sinks import staged_stream
from kafka_flink_processing_spark.streaming.stateful import session_conf

SF = "/root/testdata/sf0.001"
FILE_CONTEXT_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager")


@pytest.fixture(scope="module")
def market(spark):
    trades, prices = derive_market(spark, SF)
    trades, prices = trades.cache(), prices.cache()
    yield trades, prices
    trades.unpersist()
    prices.unpersist()


def _assert_same_rows(got, want):
    """Multiset equality (ts compared as epoch seconds)."""
    cols = [F.col(c).cast("double") if c == "ts" else F.col(c)
            for c in want.columns]
    got, want = got.select(*cols), want.select(*cols)
    assert got.count() == want.count() > 0
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_forecasts_job_end_to_end(spark, market, tmp_path):
    """ForecastsJob analogue: stream -> stateful SMA -> exactly-once parquet
    sink; output files match the batch computation."""
    _, prices = market
    prices = prices.withColumn("seq", F.lit(0).cast("long"))
    stream = staged_stream(prices, f"{tmp_path}/src")
    q = forecasts_job(stream, f"{tmp_path}/out", f"{tmp_path}/ckpt",
                      seq_col="seq")
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(f"{tmp_path}/out/forecasts/epoch=*")
    want = (rolling_sma_forecast(
        prices.select("ts", "hub", "price_mwh", "seq"),
        ["hub"], ["ts", "seq"], "price_mwh")
        .select("ts", "hub", "sma5", "sma20", "forecast_next"))
    _assert_same_rows(got, want)


def test_forecasts_checkpoint_from_file_context_manager_restarts(
        spark, market, tmp_path):
    """A checkpoint written under Spark's default FileContext manager,
    which non-local masters keep, restarts on a local session's
    FileSystem manager: the keyed SMA state resumes, the first slice is
    not re-emitted, and the whole output equals the batch plan over the
    whole tape."""
    _, prices = market
    prices = prices.withColumn("seq", F.lit(0).cast("long"))
    src, out, ckpt = (f"{tmp_path}/src", f"{tmp_path}/out",
                      f"{tmp_path}/ckpt")
    stream = staged_stream(prices, src, 2)
    os.rename(f"{src}/f1", f"{tmp_path}/held")    # the next slice

    def drain():
        q = forecasts_job(stream, out, ckpt, seq_col="seq")
        q.processAllAvailable()
        q.stop()

    with session_conf(spark, "spark.sql.streaming.checkpointFileManagerClass",
                      FILE_CONTEXT_CHECKPOINT_FILE_MANAGER):
        drain()
    n_first = spark.read.parquet(f"{out}/forecasts/epoch=*").count()
    os.rename(f"{tmp_path}/held", f"{src}/f1")
    drain()
    got = spark.read.parquet(f"{out}/forecasts/epoch=*")
    want = (rolling_sma_forecast(
        prices.select("ts", "hub", "price_mwh", "seq"),
        ["hub"], ["ts", "seq"], "price_mwh")
        .select("ts", "hub", "sma5", "sma20", "forecast_next"))
    assert 0 < n_first < want.count()
    _assert_same_rows(got, want)


def test_pnl_job_writes_both_tables(spark, market, tmp_path):
    """PnlAndExposureJob on the parquet sink: one fold, two tables, each
    equal to the batch fold and its exposure projection row for row."""
    trades, prices = market
    q = pnl_job(staged_stream(trades, f"{tmp_path}/t"),
                staged_stream(prices, f"{tmp_path}/p"),
                f"{tmp_path}/out", f"{tmp_path}/ckpt")
    q.processAllAvailable()
    q.stop()
    want = pnl_positions(trades, prices)
    for table, want_t in (("positions_pnl", want),
                          ("price_exposure", price_exposure(want))):
        got = spark.read.parquet(f"{tmp_path}/out/{table}/epoch=*")
        _assert_same_rows(got, want_t)


_DOCS = [(i, text, "en", "s", len(text)) for i, text in enumerate(
    ["aa bb cc dd ee ff gg", "aa bb cc dd ee ff hh", "q r s t u v w",
     "solo", "x1 y1 z1 w1 v1", "x1 y1 z1 w1 v2", "m n o p q r s"])]
_DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
               "n_chars long")


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("job", ["incremental_dedup", "decontamination",
                                 "ccnet_quality"])
def test_failed_epoch_write_frees_epoch_caches(spark, tmp_path, job):
    """A document job whose epoch write raises must unpersist what the
    epoch cached: afterwards the session's persistent RDDs are exactly
    those before the job plus the artifacts it returns or memoizes."""
    from kafka_flink_processing_spark.operators.dedup import doc_signatures

    docs = spark.createDataFrame(_DOCS, _DOC_SCHEMA)
    out = tmp_path / "out"
    out.write_text("")  # a regular file: every epoch write under it fails
    stream = staged_stream(docs, f"{tmp_path}/src")
    if job == "incremental_dedup":
        # the corpus signatures are the job's memoized artifact; build
        # them first so the snapshot below already holds them
        doc_signatures(docs, 3)
    before = _persistent_rdds(spark)
    artifacts = []
    if job == "incremental_dedup":
        q = incremental_dedup_job(stream, docs, str(out), f"{tmp_path}/ck",
                                  available_now=True)
    elif job == "decontamination":
        q, bloom = decontamination_job(stream, docs, str(out),
                                       f"{tmp_path}/ck", available_now=True)
        artifacts = [bloom]
    else:
        q, (lm, ter) = ccnet_quality_filter_job(
            stream, docs, str(out), f"{tmp_path}/ck", available_now=True)
        artifacts = [lm, ter]
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    for artifact in artifacts:
        artifact.unpersist()
    assert _persistent_rdds(spark) == before
