"""Batch <-> streaming parity (SURVEY.md §5.2 item 5): the streaming
stateful operators must produce exactly the batch plans' output on the same
input — single-batch runs are bit-identical; multi-batch runs carry state
across micro-batches correctly."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.pnl import pnl_positions
from kafka_flink_processing_spark.operators.windows import rolling_sma_forecast
from kafka_flink_processing_spark.sources.events_market import derive_market
from kafka_flink_processing_spark.streaming.sinks import (
    run_available_now,
    staged_stream,
)
from kafka_flink_processing_spark.streaming.stateful import (
    rocksdb_state_store,
    streaming_pnl,
    streaming_sma_forecast,
)

pytestmark = pytest.mark.slow  # integration tier (see pytest.ini)

SF = "/root/testdata/sf0.001"


def _rowset(rows):
    return {tuple(sorted(r.asDict().items())) for r in rows}


@pytest.fixture(scope="module")
def market(spark):
    trades, prices = derive_market(spark, SF)
    trades, prices = trades.cache(), prices.cache()
    yield trades, prices
    trades.unpersist()
    prices.unpersist()


def test_streaming_sma_matches_batch(spark, market, tmp_path):
    _, prices = market
    prices = prices.withColumn("seq", F.lit(0).cast("long"))
    stream = staged_stream(prices, f"{tmp_path}/src")
    fc = streaming_sma_forecast(stream, seq_col="seq")
    run_available_now(fc, "sma_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT ts, hub, price_mwh, sma5, sma20, forecast_next "
                    "FROM sma_out")
    want = (rolling_sma_forecast(
        prices.select("ts", "hub", "price_mwh", "seq"),
        ["hub"], ["ts", "seq"], "price_mwh")
        .select("ts", "hub", "price_mwh", "sma5", "sma20", "forecast_next"))
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_streaming_pnl_matches_batch_single_batch(spark, market, tmp_path):
    trades, prices = market
    ts_stream = staged_stream(trades, f"{tmp_path}/t")
    px_stream = staged_stream(prices, f"{tmp_path}/p")
    pnl = streaming_pnl(ts_stream, px_stream)
    run_available_now(pnl, "pnl_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_out")
    want = pnl_positions(trades, prices)
    assert _rowset(got.collect()) == _rowset(want.collect())


@pytest.fixture()
def rocksdb_state(spark):
    """transformWithState requires the RocksDB state store (bundled
    rocksdbjni jar); restore the default provider afterwards so the
    applyInPandasWithState suites keep their original store."""
    with rocksdb_state_store(spark):
        yield


def test_streaming_pnl_tws_matches_batch(spark, market, tmp_path,
                                         rocksdb_state):
    """The Spark-4 transformWithStateInPandas port (ValueState +
    real MapState, reference-matching state layout) must reproduce the
    batch plan bit-exactly, like the applyInPandasWithState original."""
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_tws,
    )
    trades, prices = market
    ts_stream = staged_stream(trades, f"{tmp_path}/t")
    px_stream = staged_stream(prices, f"{tmp_path}/p")
    pnl = streaming_pnl_tws(ts_stream, px_stream)
    run_available_now(pnl, "pnl_tws_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_tws_out")
    want = pnl_positions(trades, prices)
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_streaming_pnl_tws_state_carries_across_batches(spark, market,
                                                        tmp_path,
                                                        rocksdb_state):
    """Split BOTH inputs at the same time cut, 1 file per trigger: the
    ValueState last-price and the MapState account book must survive the
    micro-batch boundary — output equals the batch replay exactly."""
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_tws,
    )
    trades, prices = market
    # ONE cut shared by both sources (per-source median cuts would let a
    # later-ts price precede an earlier-ts trade across the batch
    # boundary, which genuinely reorders the fold — not a state bug)
    allts = (trades.select("ts").unionByName(prices.select("ts"))
             .withColumn("o", F.col("ts").cast("double")))
    cut = allts.approxQuantile("o", [0.5], 0.0)[0]
    ts_stream = staged_stream(trades, f"{tmp_path}/t", [cut])
    px_stream = staged_stream(prices, f"{tmp_path}/p", [cut])
    pnl = streaming_pnl_tws(ts_stream, px_stream)
    run_available_now(pnl, "pnl_tws_mb_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_tws_mb_out")
    want = pnl_positions(trades, prices)
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_tws_state_echo_roundtrip(spark, tmp_path, rocksdb_state):
    """Minimal ValueState + MapState echo across the micro-batch boundary:
    batch 1 writes, batch 2 reads back and emits what it saw. Pins the
    state-server protocol round-trip (incl. the vendored-protobuf skew
    path) independently of the PnL fold, and specifically that a `long`
    map-state field written as a Python int survives — the r7 bug was an
    integral FLOAT silently decoding to NULL on the JVM side."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("note", T.StringType()),
    ])

    class Echo(StatefulProcessor):
        def init(self, handle):
            self._v = handle.getValueState("v", "price double")
            self._m = handle.getMapState(
                "m", "account string",
                "pos long, avg double, realized double")

        def handleInputRows(self, key, rows, timer_values):
            seen = None
            if self._m.exists():
                seen = sorted((k[0], tuple(v)) for k, v in self._m.iterator())
            note = f"v={self._v.get()!r} m={seen!r}"
            for _ in rows:
                pass
            self._v.update((42.5,))
            self._m.updateValue(("a",), (7, 1.25, -3.5))
            self._m.updateValue(("b",), (-2, 0.5, 9.0))
            yield pd.DataFrame([{"key": key[0], "note": note}])

        def handleInitialState(self, key, initialState, timer_values):
            pass

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            return iter(())

        def close(self):
            pass

    # one row per micro-batch for the same key
    df = spark.createDataFrame([("h1", 1.0), ("h1", 2.0)],
                               "hub string, x double")
    stream = staged_stream(df, f"{tmp_path}/src", [1.0], order_col="x")
    out = (stream.groupBy("hub")
           .transformWithStateInPandas(Echo(), out_schema, "append", "none"))
    run_available_now(out, "tws_echo_out", f"{tmp_path}/ckpt")
    notes = sorted(r.note for r in spark.sql(
        "SELECT note FROM tws_echo_out").collect())
    assert notes == [
        "v=(42.5,) m=[('a', (7, 1.25, -3.5)), ('b', (-2, 0.5, 9.0))]",
        "v=None m=None",
    ]


def test_book_puts_touched_keys_only():
    """MapState writes per batch are O(touched accounts), not O(book),
    and always typed (int, float, float) — incl. integral-float pos."""
    from kafka_flink_processing_spark.streaming.stateful import book_puts

    before = {"a": (7, 1.25, -3.5), "b": (-2, 0.5, 9.0)}
    after = {"a": (7.0, 1.25, -3.5),      # untouched (integral float)
             "b": (-3.0, 0.5, 9.0),       # position moved
             "c": (1.0, 2.0, 0.0)}        # new account
    puts = book_puts(before, after)
    assert puts == {"b": (-3, 0.5, 9.0), "c": (1, 2.0, 0.0)}
    assert all(type(v[0]) is int and type(v[1]) is float and
               type(v[2]) is float for v in puts.values())
    assert book_puts(before, dict(before)) == {}


def test_streaming_sma_state_carries_across_batches(spark, market, tmp_path):
    """Split prices at the time median into 2 files, force 1 file per
    micro-batch: the ring buffer must survive the batch boundary, giving
    exactly the batch result."""
    _, prices = market
    one_hub = prices.filter(F.col("hub") == "HUB0") \
                    .withColumn("seq", F.lit(0).cast("long"))
    stream = staged_stream(one_hub, f"{tmp_path}/src", 2)
    fc = streaming_sma_forecast(stream, seq_col="seq")
    run_available_now(fc, "sma_mb_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT ts, hub, sma5, sma20 FROM sma_mb_out")
    want = rolling_sma_forecast(one_hub, ["hub"], ["ts", "seq"], "price_mwh") \
        .select("ts", "hub", "sma5", "sma20")
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_incremental_dedup_job_matches_batch_operator(spark):
    """Streaming ingest guard parity across MULTIPLE micro-batches: the
    emitted rows must equal (batch operator's cross dups) ∪ (within-epoch
    self-screen pairs), with per-pair values identical to the batch
    implementations; accepted docs = increment minus flagged ids."""
    from kafka_flink_processing_spark.operators.dedup import (
        incremental_minhash_dups,
        minhash_lsh_pairs,
    )
    from kafka_flink_processing_spark.sources.parquet import load_table
    from kafka_flink_processing_spark.streaming.jobs import (
        incremental_dedup_job,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    increment = docs.filter(F.col("doc_id") >= 400)

    want_cross = _rowset(incremental_minhash_dups(
        docs, batch_cond=F.col("doc_id") >= 400).collect())

    with tempfile.TemporaryDirectory(prefix="kfps_incdedup_") as td:
        stream = staged_stream(increment, f"{td}/src", 2,
                               order_col="doc_id")
        q = incremental_dedup_job(stream, corpus, f"{td}/out", f"{td}/ckpt",
                                  available_now=True)
        q.awaitTermination()
        dups = spark.read.option("basePath", f"{td}/out/dups") \
            .parquet(f"{td}/out/dups/epoch=*")
        accepted = spark.read.option("basePath", f"{td}/out/accepted") \
            .parquet(f"{td}/out/accepted/epoch=*")

        # within-epoch expectation: epoch membership is pure file
        # partitioning (dups.doc_id ∪ accepted.doc_id per epoch), so the
        # expected self-screen pairs are the batch pair-miner's output on
        # each epoch's member set, flagged (larger id, smaller id)
        members = (dups.select("epoch", "doc_id")
                   .unionByName(accepted.select("epoch", "doc_id"))
                   .distinct().collect())
        by_epoch: dict[int, set] = {}
        for r in members:
            by_epoch.setdefault(r.epoch, set()).add(r.doc_id)
        assert len(by_epoch) == 2  # genuinely multi-batch
        want_within = set()
        for ids in by_epoch.values():
            part = docs.filter(F.col("doc_id").isin(list(ids)))
            for r in minhash_lsh_pairs(part).collect():
                want_within.add(tuple(sorted(dict(
                    doc_id=max(r.doc_a, r.doc_b),
                    dup_of=min(r.doc_a, r.doc_b),
                    jaccard=r.jaccard).items())))

        got = _rowset(dups.select("doc_id", "dup_of", "jaccard").collect())
        assert got == want_cross | want_within
        flagged = {r.doc_id for r in dups.select("doc_id").collect()}
        inc_ids = {r.doc_id for r in increment.select("doc_id").collect()}
        acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
        assert acc_ids == inc_ids - flagged


def test_decontamination_job_matches_batch_operator(spark):
    """Streaming decontamination parity: the per-doc screen has no
    within-batch interactions, so the union over micro-batch epochs must
    equal the batch contamination_screen_bloom rows exactly; accepted =
    increment minus flagged ids."""
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen_bloom,
    )
    from kafka_flink_processing_spark.sources.parquet import load_table
    from kafka_flink_processing_spark.streaming.jobs import (
        decontamination_job,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 13 == 0)
    increment = docs.filter(F.col("doc_id") % 13 != 0)

    want = _rowset(contamination_screen_bloom(
        docs, F.col("doc_id") % 13 == 0, n=4).collect())

    with tempfile.TemporaryDirectory(prefix="kfps_decon_") as td:
        stream = staged_stream(increment, f"{td}/src", 2,
                               order_col="doc_id")
        q, bloom = decontamination_job(stream, eval_docs, f"{td}/out",
                                       f"{td}/ckpt", n=4, available_now=True)
        q.awaitTermination()
        bloom.unpersist()  # the documented caller contract
        hits = spark.read.option("basePath", f"{td}/out/contaminated") \
            .parquet(f"{td}/out/contaminated/epoch=*")
        accepted = spark.read.option("basePath", f"{td}/out/accepted") \
            .parquet(f"{td}/out/accepted/epoch=*")
        assert hits.select("epoch").distinct().count() == 2  # multi-batch
        got = _rowset(hits.drop("epoch").collect())
        assert got == want
        flagged = {r.doc_id for r in hits.select("doc_id").collect()}
        inc_ids = {r.doc_id for r in increment.select("doc_id").collect()}
        acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
        assert acc_ids == inc_ids - flagged


def test_checkpoint_restart_carries_sma_state_no_duplicates(spark, market,
                                                            tmp_path):
    """K2 exactly-once evidence, restart edition: drain batch 1 with a
    file sink + checkpoint, STOP, land more source files, start a FRESH
    query from the SAME checkpoint — the ring-buffer state must resume
    (not restart cold) and batch-1 rows must not re-emit. The combined
    sink output equals the batch plan over the full input exactly."""
    _, prices = market
    one_hub = prices.filter(F.col("hub") == "HUB0") \
                    .withColumn("seq", F.lit(0).cast("long"))
    o = F.col("ts").cast("double")
    cut = one_hub.select(o.alias("o")).approxQuantile("o", [0.5], 0.0)[0]
    src, out, ckpt = f"{tmp_path}/src", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    one_hub.filter(o <= cut).coalesce(1).write.parquet(f"{src}/f0")

    def run_once():
        stream = (spark.readStream.schema(one_hub.schema)
                  .parquet(f"{src}/f*"))
        q = (streaming_sma_forecast(stream, seq_col="seq")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()                                     # batch 1
    n_first = spark.read.parquet(out).count()
    one_hub.filter(o > cut).coalesce(1).write.parquet(f"{src}/f1")
    run_once()                                     # restart from checkpoint
    got = spark.read.parquet(out).select("ts", "hub", "sma5", "sma20")
    want = (rolling_sma_forecast(one_hub, ["hub"], ["ts", "seq"],
                                 "price_mwh")
            .select("ts", "hub", "sma5", "sma20"))
    assert 0 < n_first < want.count()              # both runs contributed
    assert got.count() == want.count()             # no dup re-emission
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_checkpoint_restart_carries_tws_rocksdb_state(spark, market,
                                                      tmp_path,
                                                      rocksdb_state):
    """Same restart contract for the transformWithState port: the
    RocksDB ValueState/MapState must restore from the checkpoint on a
    fresh query, so the resumed fold continues the account book instead
    of re-founding it — output equals the batch replay over the full
    tape with no batch-1 duplicates."""
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_tws,
    )
    trades, prices = market
    allts = (trades.select("ts").unionByName(prices.select("ts"))
             .withColumn("o", F.col("ts").cast("double")))
    cut = allts.approxQuantile("o", [0.5], 0.0)[0]
    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"

    def stage(df, base, part):
        o = F.col("ts").cast("double")
        flt = o <= cut if part == 0 else o > cut
        df.filter(flt).coalesce(1).write.parquet(f"{base}/f{part}")

    stage(trades, f"{tmp_path}/t", 0)
    stage(prices, f"{tmp_path}/p", 0)

    def run_once():
        ts = spark.readStream.schema(trades.schema).parquet(
            f"{tmp_path}/t/f*")
        px = spark.readStream.schema(prices.schema).parquet(
            f"{tmp_path}/p/f*")
        q = (streaming_pnl_tws(ts, px)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(out).count()
    stage(trades, f"{tmp_path}/t", 1)
    stage(prices, f"{tmp_path}/p", 1)
    run_once()
    got = spark.read.parquet(out)
    want = pnl_positions(trades, prices)
    assert 0 < n_first < want.count()
    assert got.count() == want.count()
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_streaming_sma_tws_matches_batch(spark, market, tmp_path,
                                         rocksdb_state):
    """The transformWithState W1 port (REAL ListState ring buffer,
    reference ForecastsJob.java:77-81 layout) must reproduce the batch
    window plan bit-exactly, like the applyInPandasWithState original."""
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_sma_forecast_tws,
    )
    _, prices = market
    prices = prices.withColumn("seq", F.lit(0).cast("long"))
    stream = staged_stream(prices, f"{tmp_path}/src")
    fc = streaming_sma_forecast_tws(stream, seq_col="seq")
    run_available_now(fc, "sma_tws_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT ts, hub, price_mwh, sma5, sma20, forecast_next "
                    "FROM sma_tws_out")
    want = (rolling_sma_forecast(
        prices.select("ts", "hub", "price_mwh", "seq"),
        ["hub"], ["ts", "seq"], "price_mwh")
        .select("ts", "hub", "price_mwh", "sma5", "sma20", "forecast_next"))
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_checkpoint_restart_carries_sma_tws_liststate(spark, market,
                                                      tmp_path,
                                                      rocksdb_state):
    """Restart contract for the W1 tws port: the RocksDB ListState ring
    buffer must restore from the checkpoint on a fresh query — the
    resumed fold continues the window (not a cold 1-element buffer) and
    batch-1 rows must not re-emit."""
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_sma_forecast_tws,
    )
    _, prices = market
    one_hub = prices.filter(F.col("hub") == "HUB0") \
                    .withColumn("seq", F.lit(0).cast("long"))
    o = F.col("ts").cast("double")
    cut = one_hub.select(o.alias("o")).approxQuantile("o", [0.5], 0.0)[0]
    src, out, ckpt = f"{tmp_path}/src", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    one_hub.filter(o <= cut).coalesce(1).write.parquet(f"{src}/f0")

    def run_once():
        stream = (spark.readStream.schema(one_hub.schema)
                  .parquet(f"{src}/f*"))
        q = (streaming_sma_forecast_tws(stream, seq_col="seq")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()                                     # batch 1
    n_first = spark.read.parquet(out).count()
    one_hub.filter(o > cut).coalesce(1).write.parquet(f"{src}/f1")
    run_once()                                     # restart from checkpoint
    got = spark.read.parquet(out).select("ts", "hub", "sma5", "sma20")
    want = (rolling_sma_forecast(one_hub, ["hub"], ["ts", "seq"],
                                 "price_mwh")
            .select("ts", "hub", "sma5", "sma20"))
    assert 0 < n_first < want.count()              # both runs contributed
    assert got.count() == want.count()             # no dup re-emission
    assert _rowset(got.collect()) == _rowset(want.collect())


def test_pnl_tws_ttl_evicts_long_flat_accounts(spark, tmp_path,
                                               rocksdb_state):
    """Book-expiry TTL (PnlProcessorTtl): an account flat for > TTL of
    event time is evicted by an event-time timer, so later price ticks
    stop fanning out rows for it — the state-growth mitigation at
    account churn. Accounts with open positions are never evicted.

    Tape (hub H, TTL = 60 s, watermark delay 0):
      b1: A buys 5 then sells 5 (flat at 10:00:30 -> timer 10:01:30),
          B buys 3 (open), tick 10:02 (A+B rows; watermark still 0)
      b2: tick 10:03 — watermark is now 10:02 > timer, so A is evicted
          this batch
      b3: tick 10:04 — only B fans out
    """
    import datetime as dt

    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_tws_ttl,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)

    trades = spark.createDataFrame(
        [(1, t(0), "A", "H", "BUY", 5, 50.0),
         (2, t(30), "A", "H", "SELL", 5, 51.0),
         (3, t(60), "B", "H", "BUY", 3, 52.0)],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw long, price_mwh double")
    px_schema = "ts timestamp, hub string, price_mwh double"
    ticks = [(t(120), "H", 53.0), (t(180), "H", 54.0), (t(240), "H", 55.0)]

    ts = staged_stream(trades, f"{tmp_path}/t")
    # one tick per micro-batch
    px = staged_stream(spark.createDataFrame(ticks, px_schema),
                       f"{tmp_path}/p", [53.0, 54.0], order_col="price_mwh")
    out = streaming_pnl_tws_ttl(ts, px, ttl_ms=60_000)
    run_available_now(out, "pnl_ttl_out", f"{tmp_path}/ckpt")
    got = spark.sql("SELECT * FROM pnl_ttl_out").collect()

    by_tick = {}
    for r in got:
        by_tick.setdefault(r.ts, set()).add(r.account)
    # trade emissions + the 10:02 tick fan out both accounts
    assert by_tick[t(120)] == {"A", "B"}
    # after eviction the 10:04 tick fans out B only; A is gone from state
    assert by_tick[t(240)] == {"B"}
    # B (open position) survives every tick
    for s in (120, 180, 240):
        assert "B" in by_tick[t(s)]
    # A emitted rows while in the book, none after eviction
    a_rows = [r for r in got if r.account == "A"]
    assert {r.ts for r in a_rows} <= {t(0), t(30), t(120), t(180)}
    assert t(240) not in {r.ts for r in a_rows}


def test_pnl_tws_ttl_restart_fires_timers_at_drain_end(spark, tmp_path,
                                                       rocksdb_state):
    """The drain-end NO-DATA microbatch (the r10 events_churn fuzz find,
    minimal committed form): an availableNow drain appends one no-data
    batch once the watermark has advanced, so a timer whose expiry the
    PHASE-1 watermark already covers fires at the END of phase 1 — NOT
    after phase 2's first input rows. Tape (TTL = 60 s, delay 0):

      phase 1 (one batch): A buys 5 / sells 5 (flat at 10:00:10, timer
        10:01:10), B buys 3 (open), tick 10:01:40 — the batch's own
        watermark is still 0, so A fans out on that tick; then the
        drain-end no-data batch runs with wm = 10:01:40 > timer and
        EVICTS A.
      phase 2 (restart from the checkpoint): tick 10:01:50 — if timers
        only fired after input rows, A would fan out here one last time;
        the drain-end semantics say it must NOT. B always does.
    """
    import datetime as dt

    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl_tws_ttl,
    )

    def t(s):
        return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(seconds=s)

    trades = spark.createDataFrame(
        [(1, t(0), "A", "H", "BUY", 5, 50.0),
         (2, t(10), "A", "H", "SELL", 5, 51.0),
         (3, t(20), "B", "H", "BUY", 3, 52.0)],
        "trade_id long, ts timestamp, account string, hub string, "
        "side string, mw long, price_mwh double")
    px_schema = "ts timestamp, hub string, price_mwh double"
    out, ckpt = f"{tmp_path}/out", f"{tmp_path}/ckpt"

    def run_once():
        ts = (spark.readStream.schema(trades.schema)
              .parquet(f"{tmp_path}/t/f*"))
        px = (spark.readStream
              .schema(spark.createDataFrame([], px_schema).schema)
              .parquet(f"{tmp_path}/p/f*"))
        q = (streaming_pnl_tws_ttl(ts, px, ttl_ms=60_000)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    trades.coalesce(1).write.parquet(f"{tmp_path}/t/f0")
    spark.createDataFrame([(t(100), "H", 53.0)], px_schema) \
        .coalesce(1).write.parquet(f"{tmp_path}/p/f0")
    run_once()                                   # phase 1 + no-data batch
    spark.createDataFrame([], trades.schema) \
        .coalesce(1).write.parquet(f"{tmp_path}/t/f1")
    spark.createDataFrame([(t(110), "H", 54.0)], px_schema) \
        .coalesce(1).write.parquet(f"{tmp_path}/p/f1")
    run_once()                                   # phase 2 from checkpoint

    got = spark.read.parquet(out).collect()
    by_tick = {}
    for r in got:
        by_tick.setdefault(r.ts, set()).add(r.account)
    # phase-1 tick: watermark hadn't advanced yet, A still in the book
    assert by_tick[t(100)] == {"A", "B"}
    # phase-2 tick: A was evicted by the phase-1 drain-end no-data batch
    assert by_tick[t(110)] == {"B"}
