"""Live end-to-end test of the K1 JDBC batch sink against embedded Derby.

The reference batch-inserts into Postgres over JDBC (500 rows / 200 ms /
3 retries — IngestPricesAndTradesJob.java:42-73). The build sandbox has
no Postgres, but Spark bundles Apache Derby (its Hive-metastore store)
whose EmbeddedDriver is a real in-process JDBC database: these tests
drive `streaming/sinks.py::jdbc_batch_sink` through an actual streaming
query into an actual SQL table and read the rows back over JDBC —
exercising everything the Postgres path would (DataFrameWriter.jdbc
batching, concurrent per-partition inserts, append-on-replay
at-least-once semantics) except the url/driver string.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_flink_processing_spark.sources.generators import gen_prices
from kafka_flink_processing_spark.streaming.sinks import jdbc_batch_sink

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(DERBY_DRIVER)
        return True
    except Exception:
        return False


@pytest.fixture()
def derby(spark, tmp_path):
    # pytest-managed scratch (no mkdtemp leak — the r4/r5 advice class);
    # Derby drops its db.lck when the availableNow queries finish, so
    # pytest's retention sweep can remove the tree safely
    if not _derby_available(spark):
        pytest.skip("Derby EmbeddedDriver not on the Spark classpath")
    return f"jdbc:derby:{tmp_path}/db;create=true", {"driver": DERBY_DRIVER}


def _stage_stream(spark, df, work):
    src = f"{work}/src"
    df.coalesce(1).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def test_jdbc_sink_roundtrip_exact_rows(spark, derby):
    url, props = derby
    prices = gen_prices(spark, n_rounds=300, seed=7).cache()
    n = prices.count()
    assert n == 1200  # 4 hubs x 300 rounds
    with tempfile.TemporaryDirectory(prefix="kfps_jdbc_") as work:
        stream = _stage_stream(spark, prices, work)
        q = jdbc_batch_sink(stream, url, "prices", props,
                            f"{work}/ckpt", available_now=True)
        q.awaitTermination(120)
    back = spark.read.jdbc(url, "prices", properties=props)
    assert back.count() == n
    # value-exact: every (ts, hub, price) row survives the SQL round-trip
    key = [F.col("ts").cast("double"), "hub", "price_mwh"]
    assert prices.select(*key).exceptAll(back.select(*key)).count() == 0
    assert back.select(*key).exceptAll(prices.select(*key)).count() == 0


def test_jdbc_sink_appends_on_replay(spark, derby):
    # the reference's plain INSERTs are at-least-once: a replayed epoch
    # duplicates rows rather than failing — the sink must APPEND, and a
    # second drain of the same source (fresh checkpoint = replay) doubles
    # the table
    url, props = derby
    prices = gen_prices(spark, n_rounds=50, seed=11).cache()
    n = prices.count()
    for ckpt_tag in ("ckpt_a", "ckpt_b"):
        with tempfile.TemporaryDirectory(prefix="kfps_jdbc_") as work:
            stream = _stage_stream(spark, prices, work)
            q = jdbc_batch_sink(stream, url, "trades_replay", props,
                                f"{work}/{ckpt_tag}", available_now=True)
            q.awaitTermination(120)
    back = spark.read.jdbc(url, "trades_replay", properties=props)
    assert back.count() == 2 * n


def test_ingest_job_end_to_end_jdbc(spark, derby):
    """IngestPricesAndTradesJob parity minus the broker: the reference
    consumes two JSON topics and batch-inserts both into Postgres
    (IngestPricesAndTradesJob.java:23-73). Here the same JSON payloads
    flow text-stream -> parse_topic (P1/P2) -> jdbc_batch_sink (K1) into
    two real SQL tables, then read back over JDBC and compared row-exact
    against the batch parse of the same lines."""
    from kafka_flink_processing_spark.sources.generators import gen_trades
    from kafka_flink_processing_spark.sources.kafka import parse_topic

    url, props = derby
    sources = {
        "prices": gen_prices(spark, n_rounds=100, seed=3),
        "trades": gen_trades(spark, n_rounds=400, seed=5),
    }
    for topic, df in sources.items():
        payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        with tempfile.TemporaryDirectory(prefix=f"kfps_{topic}_") as work:
            src = f"{work}/json"
            payload.coalesce(1).write.mode("overwrite").text(src)
            stream = spark.readStream.text(src)
            q = jdbc_batch_sink(parse_topic(stream, topic), url,
                                f"ingest_{topic}", props,
                                f"{work}/ckpt", available_now=True)
            q.awaitTermination(120)
        back = spark.read.jdbc(url, f"ingest_{topic}", properties=props)
        expect = parse_topic(payload, topic)
        assert back.count() == expect.count() > 0
        # row-exact both directions (ts as epoch double for a stable key)
        cols = [F.col(c).cast("double") if c == "ts" else F.col(c)
                for c in expect.columns]
        assert expect.select(*cols).exceptAll(back.select(*cols)).count() == 0
        assert back.select(*cols).exceptAll(expect.select(*cols)).count() == 0


def test_pnl_job_jdbc_two_tables_match_batch(spark, derby, tmp_path):
    """PnlAndExposureJob parity minus the broker: one stateful fold fans
    out to positions_pnl AND price_exposure as JDBC inserts
    (PnlAndExposureJob.java:53-76); both SQL tables must equal the batch
    fold and its exposure projection row-for-row."""
    from kafka_flink_processing_spark.operators.pnl import (
        pnl_positions,
        price_exposure,
    )
    from kafka_flink_processing_spark.sources.events_market import (
        derive_market,
    )
    from kafka_flink_processing_spark.streaming.jobs import pnl_job_jdbc

    url, props = derby
    trades, prices = derive_market(spark, "/root/testdata/sf0.001")
    trades, prices = trades.cache(), prices.cache()
    t_src, p_src = f"{tmp_path}/t", f"{tmp_path}/p"
    trades.coalesce(1).write.mode("overwrite").parquet(t_src)
    prices.coalesce(1).write.mode("overwrite").parquet(p_src)
    q = pnl_job_jdbc(spark.readStream.schema(trades.schema).parquet(t_src),
                     spark.readStream.schema(prices.schema).parquet(p_src),
                     url, props, str(tmp_path), available_now=True)
    q.awaitTermination(180)

    for table, want in (("positions_pnl", pnl_positions(trades, prices)),
                        ("price_exposure",
                         price_exposure(pnl_positions(trades, prices)))):
        back = spark.read.jdbc(url, table, properties=props)
        assert back.count() == want.count() > 0
        cols = [F.col(c).cast("double") if c == "ts" else F.col(c)
                for c in want.columns]
        assert want.select(*cols).exceptAll(back.select(*cols)).count() == 0
        assert back.select(*cols).exceptAll(want.select(*cols)).count() == 0


def test_partitioned_jdbc_read_scale_path(spark, derby):
    """The 100 TB read-side pattern: spark.read.jdbc with partitionColumn/
    bounds/numPartitions issues one bounded query per partition instead of
    a single-connection full scan. The partitioned read must be
    value-identical to the plain read and actually split the work."""
    url, props = derby
    df = spark.range(0, 10_000).selectExpr(
        "id", "cast(id % 97 as double) as px")
    df.write.mode("append").option("batchsize", 500).jdbc(
        url, "wide_read", properties=props)
    plain = spark.read.jdbc(url, "wide_read", properties=props)
    parted = spark.read.jdbc(
        url, "wide_read", column="id", lowerBound=0, upperBound=10_000,
        numPartitions=4, properties=props)
    assert parted.rdd.getNumPartitions() == 4
    assert parted.count() == plain.count() == 10_000
    assert parted.exceptAll(plain).count() == 0
    assert plain.exceptAll(parted).count() == 0


def test_forecasts_job_jdbc_matches_batch(spark, derby, tmp_path):
    """ForecastsJob's sink shape live (ForecastsJob.java:42-56 writes the
    SMA forecasts to Postgres): stateful streaming SMA -> jdbc_batch_sink
    -> SQL table equal to the batch rolling forecast. With this, every
    reference job's JDBC delivery (ingest, pnl+exposure, forecasts) is
    exercised end-to-end minus only the broker."""
    from kafka_flink_processing_spark.operators.windows import (
        rolling_sma_forecast,
    )
    from kafka_flink_processing_spark.sources.events_market import (
        derive_market,
    )
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_sma_forecast,
    )

    url, props = derby
    _, prices = derive_market(spark, "/root/testdata/sf0.001")
    prices = prices.withColumn("seq", F.lit(0).cast("long")).cache()
    src = f"{tmp_path}/px"
    prices.coalesce(1).write.mode("overwrite").parquet(src)
    fc = streaming_sma_forecast(
        spark.readStream.schema(prices.schema).parquet(src), seq_col="seq")
    q = jdbc_batch_sink(
        fc.select("ts", "hub", "sma5", "sma20", "forecast_next"),
        url, "forecasts", props, f"{tmp_path}/ckpt", available_now=True)
    q.awaitTermination(120)
    back = spark.read.jdbc(url, "forecasts", properties=props)
    want = (rolling_sma_forecast(prices.select("ts", "hub", "price_mwh",
                                               "seq"),
                                 ["hub"], ["ts", "seq"], "price_mwh")
            .select("ts", "hub", "sma5", "sma20", "forecast_next"))
    assert back.count() == want.count() > 0
    cols = [F.col(c).cast("double") if c == "ts" else F.col(c)
            for c in want.columns]
    assert want.select(*cols).exceptAll(back.select(*cols)).count() == 0
    assert back.select(*cols).exceptAll(want.select(*cols)).count() == 0
