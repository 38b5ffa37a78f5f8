"""Streaming stateful operators (W1/W2) on both Spark state APIs:
applyInPandasWithState (streaming_sma_forecast, streaming_pnl — what the
production jobs run) and transformWithStateInPandas (SmaProcessor,
PnlProcessor and the TTL variant).

The reference keeps per-hub keyed state in Flink (ListState ring buffers,
ForecastsJob.java:77-81; ValueState+MapState, PnlAndExposureJob.java:107-110)
and processes records in arrival order with no watermarks (SURVEY.md §2.6).
Here each micro-batch's rows for a key are concatenated across Arrow chunks
and folded in the documented (ts, kind, trade_id) order — the engine's
refinement of the reference's arrival-order nondeterminism — and state
carries across batches.

Both state APIs run the batch operators' code: PnL through
operators/pnl.py::fold_hub seeded with the carried state, SMA through
_sma_rows, whose averages sum oldest->newest exactly like Spark's
window-frame fold. Streaming output is therefore bit-identical to the batch
plans however the input is split into micro-batches and Arrow chunks —
asserted in tests/test_streaming.py, tests/test_pnl.py and
tools/stream_fuzz.py.

Scale: state per key is O(1) for SMA (<=20 floats) and O(#accounts) for PnL;
shuffle on the key only — identical exchange structure to the batch path and
to Flink's keyBy.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from kafka_flink_processing_spark.operators.netting import TRADE
from kafka_flink_processing_spark.operators.pnl import (
    PNL_OUT_SCHEMA,
    fold_hub,
    tagged_events,
)
from kafka_flink_processing_spark.operators.windows import SMA_LONG, SMA_SHORT
from kafka_flink_processing_spark.shipping import ensure_shipped

# ---------------------------------------------------------------------------
# W1 streaming: rolling SMA forecast (reference ForecastsJob.java:76-88)
# ---------------------------------------------------------------------------

_SMA_OUT = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("hub", T.StringType()),
    T.StructField("price_mwh", T.DoubleType()),
    T.StructField("sma5", T.DoubleType()),
    T.StructField("sma20", T.DoubleType()),
    T.StructField("forecast_next", T.DoubleType()),
])
_SMA_STATE = T.StructType([T.StructField("buf", T.ArrayType(T.DoubleType()))])


def _sma_rows(hub: str, pdf: pd.DataFrame,
              buf: list[float]) -> tuple[pd.DataFrame, list[float]]:
    """Fold one key's micro-batch (all its Arrow chunks) through the
    <=SMA_LONG-price ring buffer in (ts, seq) order; returns (rows, buf)."""
    pdf = pdf.sort_values(["ts", "seq"], kind="mergesort")
    px_l = pdf["price_mwh"].tolist()
    o_sma5: list[float] = []
    o_sma20: list[float] = []
    for px in px_l:
        buf.append(float(px))
        if len(buf) > SMA_LONG:    # addAndTrim, ForecastsJob.java:77-81
            del buf[0]
        o_sma5.append(sum(buf[-SMA_SHORT:]) / min(len(buf), SMA_SHORT))
        o_sma20.append(sum(buf) / len(buf))
    rows = pd.DataFrame({
        "ts": pdf["ts"].tolist(), "hub": [hub] * len(px_l),
        "price_mwh": px_l, "sma5": o_sma5, "sma20": o_sma20,
        "forecast_next": o_sma5,
    }, columns=_SMA_OUT.fieldNames())
    return rows, buf


def _sma_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    buf: list[float] = list(state.get[0]) if state.exists else []
    rows, buf = _sma_rows(key[0], pd.concat(list(pdfs), ignore_index=True),
                          buf)
    state.update((buf,))
    yield rows


def _sma_input(prices: DataFrame, seq_col: str | None) -> DataFrame:
    """Project the SMA input to (ts, hub, price_mwh, seq), seq 0 when the
    caller has no tie-breaker."""
    return prices.select(
        "ts", "hub", "price_mwh",
        (F.col(seq_col) if seq_col else F.lit(0)).cast("long").alias("seq"))


def streaming_sma_forecast(prices: DataFrame,
                           seq_col: str | None = None) -> DataFrame:
    """prices: streaming DF with (ts, hub, price_mwh[, seq tie-breaker])."""
    ensure_shipped(prices.sparkSession)
    df = _sma_input(prices, seq_col)
    return (df.groupBy("hub")
              .applyInPandasWithState(_sma_fn, _SMA_OUT, _SMA_STATE,
                                      "append", GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# W2 streaming: PnL/position fold (reference PnlAndExposureJob.java:106-144)
# ---------------------------------------------------------------------------

# accounts dict serialized to JSON: applyInPandasWithState state schemas are
# flat structs; #accounts per hub is small and bounded (reference MapState)
_PNL_STATE = T.StructType([
    T.StructField("last_price", T.DoubleType()),
    T.StructField("accounts_json", T.StringType()),
])


def _pnl_fn(key: tuple, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    last_price, accounts = None, None
    if state.exists:
        last_price, accounts_json = state.get
        accounts = json.loads(accounts_json)
    rows, last_price, accounts = fold_hub(
        pd.concat(list(pdfs), ignore_index=True), last_price, accounts)
    state.update((last_price, json.dumps(accounts, sort_keys=True)))
    yield rows


def streaming_pnl(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """Two-input keyed co-processing as tagged union + stateful fold.

    trades: (trade_id, ts, account, hub, side, mw, price_mwh) stream
    prices: (ts, hub, price_mwh) stream
    """
    ensure_shipped(trades.sparkSession)
    return (tagged_events(trades, prices)
            .groupBy("hub")
            .applyInPandasWithState(_pnl_fn, PNL_OUT_SCHEMA, _PNL_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# W2 streaming on the Spark-4 primitive: transformWithStateInPandas
# ---------------------------------------------------------------------------

def book_puts(before: dict[str, tuple[int, float, float]],
              after: dict) -> dict[str, tuple[int, float, float]]:
    """The MapState puts a micro-batch owes: only accounts whose
    (pos, avg, realized) changed — O(touched) RocksDB point puts per hub
    per batch, not O(book) (prices only move lastPrice; fills via
    apply_fill are the only book mutation).

    Also enforces type discipline at the state boundary: the tagged-union
    mw column is nullable (NULL on price rows), so pandas hands the fold
    FLOAT64 quantities and pos accumulates as an integral float. Writing
    7.0 into the `pos long` state field makes the JVM row decoder store
    NULL silently (found the hard way: batch-2 read-back returned
    (None, avg, realized)) — coerce to the declared types before every
    put. `before` must hold already-normalized (int, float, float)
    tuples, as the read-back loop produces."""
    puts: dict[str, tuple[int, float, float]] = {}
    for acct, st in after.items():
        st = (int(st[0]), float(st[1]), float(st[2]))
        if before.get(acct) != st:
            puts[acct] = st
    return puts


class PnlProcessor(StatefulProcessor):
    """StatefulProcessor port of the PnL co-process fold onto Spark 4's
    transformWithStateInPandas — the state layout finally matches the
    reference ONE-TO-ONE (PnlAndExposureJob.java:107-110): lastPrice is a
    ValueState<double> and the per-account book is a real MapState keyed
    by account, instead of applyInPandasWithState's single flat struct
    with the account map crammed into a JSON string. At scale that's the
    difference that matters: RocksDB updates only the touched accounts
    per micro-batch (point puts) rather than rewriting one ever-growing
    blob per hub. The fold is the batch operator's fold_hub, seeded
    with the carried state, so output parity with streaming_pnl and the
    batch plan is structural. Book-expiry TTL for
    account churn lives in the PnlProcessorTtl subclass (event-time
    timers evict long-flat accounts); this base processor matches the
    reference exactly — Flink never evicts either.
    """

    def init(self, handle) -> None:
        self._last = handle.getValueState("lastPrice", "price double")
        self._accounts = handle.getMapState(
            "accounts", "account string",
            "pos long, avg double, realized double")

    def _fold_batch(self, rows: Iterator[pd.DataFrame]):
        """Shared micro-batch fold: restore state, fold all of the key's
        Arrow chunks at once with fold_hub, write back the touched state.
        Returns (batch pdf, emitted rows, post-batch book) so subclasses
        (TTL) can add bookkeeping without re-folding."""
        last = self._last.get()
        accounts: dict[str, tuple[int, float, float]] = {}
        if self._accounts.exists():
            for k, v in self._accounts.iterator():
                accounts[k[0]] = (int(v[0]), float(v[1]), float(v[2]))
        pdf = pd.concat(list(rows), ignore_index=True)
        out, last_price, book = fold_hub(
            pdf, None if last is None else float(last[0]), accounts)
        if last_price is not None:
            self._last.update((float(last_price),))
        for acct, st in book_puts(accounts, book).items():
            self._accounts.updateValue((acct,), st)
        return pdf, out, book

    def handleInputRows(self, key: tuple, rows: Iterator[pd.DataFrame],
                        timer_values) -> Iterator[pd.DataFrame]:
        yield self._fold_batch(rows)[1]


class PnlProcessorTtl(PnlProcessor):
    """PnlProcessor + book-expiry TTL — the state-growth story at account
    churn, and the first real use of the timers the tws primitive
    brings. An account that is FLAT (position 0) and has not traded for
    ttl_ms of EVENT time is evicted from the MapState book, so it stops
    fanning out on every price tick and its RocksDB entries are freed;
    accounts with open positions are never evicted regardless of age.

    Mechanics: when a batch leaves an account flat, an event-time timer
    is registered at (its last trade ts + ttl_ms); when the watermark
    passes it, handleExpiredTimer sweeps the book and removes every
    still-flat account whose last trade is at least ttl_ms old (a sweep,
    so one timer can retire several accounts and re-flattened accounts
    are caught by later timers). This variant deliberately DIVERGES from
    the reference after the TTL (the Flink job never evicts, its state
    grows forever — PnlAndExposureJob.java:107-110): post-eviction price
    ticks no longer emit rows for the evicted account, which is the
    point. Requires timeMode='eventtime', i.e. a watermark on the
    tagged-union input (streaming_pnl_tws_ttl wires both)."""

    def __init__(self, ttl_ms: int) -> None:
        self._ttl_ms = int(ttl_ms)

    def init(self, handle) -> None:
        super().init(handle)
        self._handle = handle
        self._last_trade = handle.getMapState(
            "lastTrade", "account string", "ts_ms long")

    def handleInputRows(self, key: tuple, rows: Iterator[pd.DataFrame],
                        timer_values) -> Iterator[pd.DataFrame]:
        pdf, out, book = self._fold_batch(rows)
        # in ts order, so each account's last put is its latest trade
        trades = pdf[pdf["kind"] == TRADE].sort_values("ts", kind="mergesort")
        flat_at: dict[str, int] = {}
        for acct, ts in zip(trades["account"], trades["ts"]):
            ms = int(pd.Timestamp(ts).value // 1_000_000)
            # typed put (r8 lesson): the declared long gets a Python int
            self._last_trade.updateValue((acct,), (ms,))
            if book.get(acct, (1,))[0] == 0:     # flat AFTER this batch
                flat_at[acct] = ms
        for ms in sorted(set(flat_at.values())):
            self._handle.registerTimer(ms + self._ttl_ms)
        yield out

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        # parameter names MUST match the ABC's — the runtime invokes this
        # with keyword arguments (timerValues=..., expiredTimerInfo=...)
        expiry = expiredTimerInfo.getExpiryTimeInMs()
        evict: list[str] = []
        if self._accounts.exists():
            for k, v in self._accounts.iterator():
                acct = k[0]
                if int(v[0]) != 0:
                    continue                      # open position: keep
                has_lt = self._last_trade.containsKey((acct,))
                lt = (int(self._last_trade.getValue((acct,))[0])
                      if has_lt else None)
                if lt is None or lt + self._ttl_ms <= expiry:
                    evict.append(acct)
        for acct in evict:                        # mutate AFTER iterating
            self._accounts.removeKey((acct,))
            if self._last_trade.containsKey((acct,)):
                self._last_trade.removeKey((acct,))
        return iter(())


def _tws_by_hub(df: DataFrame, processor: StatefulProcessor,
                out_schema: T.StructType,
                time_mode: str = "none") -> DataFrame:
    """Run `processor` per hub on transformWithStateInPandas, in append
    mode. ensure_tws_ready must precede the call: the UDF captures
    sc.pythonExec at creation, and the tws driver worker needs the
    wrapper for protobuf + this package (see session.ensure_tws_ready)."""
    from kafka_flink_processing_spark.session import ensure_tws_ready

    ensure_shipped(df.sparkSession)
    ensure_tws_ready(df.sparkSession)
    return (df.groupBy("hub")
              .transformWithStateInPandas(processor, out_schema, "append",
                                          time_mode))


# Event-time timers need a watermark; the TTL fold tolerates no lateness.
_TTL_WATERMARK_DELAY = "0 seconds"


def streaming_pnl_tws_ttl(trades: DataFrame, prices: DataFrame,
                          ttl_ms: int) -> DataFrame:
    """streaming_pnl_tws with book-expiry TTL (PnlProcessorTtl): evicts
    accounts flat for > ttl_ms of event time. Event-time timers need a
    watermark on the input and timeMode='eventtime'; same RocksDB
    state-store requirement as the base port."""
    union = tagged_events(trades, prices).withWatermark(
        "ts", _TTL_WATERMARK_DELAY)
    return _tws_by_hub(union, PnlProcessorTtl(ttl_ms), PNL_OUT_SCHEMA,
                       "eventtime")


class SmaProcessor(StatefulProcessor):
    """StatefulProcessor port of the W1 rolling-SMA forecast onto Spark
    4's transformWithStateInPandas — state-layout parity with the
    reference's ForecastsJob (ForecastsJob.java:77-81): the <=20-price
    ring buffer is a REAL ListState, the exact Flink primitive the
    reference uses (applyInPandasWithState's flat struct forces an
    array-in-a-column encoding instead). The buffer is bounded (20
    doubles), so the per-batch rewrite is O(1) per hub; the fold is
    _sma_rows, the same as _sma_fn's, so output parity with
    streaming_sma_forecast and the batch window plan is structural."""

    def init(self, handle) -> None:
        self._buf = handle.getListState("buf", "price double")

    def handleInputRows(self, key: tuple, rows: Iterator[pd.DataFrame],
                        timer_values) -> Iterator[pd.DataFrame]:
        buf: list[float] = ([float(r[0]) for r in self._buf.get()]
                            if self._buf.exists() else [])
        out, buf = _sma_rows(key[0], pd.concat(list(rows), ignore_index=True),
                             buf)
        # typed put (the r8 state-boundary lesson): every element coerced
        # to the declared double before crossing into the JVM row encoder
        self._buf.clear()
        if buf:
            self._buf.put([(float(v),) for v in buf])
        yield out


def streaming_sma_forecast_tws(prices: DataFrame,
                               seq_col: str | None = None) -> DataFrame:
    """streaming_sma_forecast on transformWithStateInPandas (Spark 4):
    same signature, same output, ListState ring buffer. Needs the
    RocksDB state-store provider, like streaming_pnl_tws."""
    return _tws_by_hub(_sma_input(prices, seq_col), SmaProcessor(),
                       _SMA_OUT)


def streaming_pnl_tws(trades: DataFrame, prices: DataFrame) -> DataFrame:
    """streaming_pnl on transformWithStateInPandas (Spark 4 primitive).

    Requires the RocksDB state store provider (bundled rocksdbjni jar):
    start the query inside rocksdb_state_store(spark) — the HDFS-backed
    default store does not support the transformWithState operator family.
    """
    return _tws_by_hub(tagged_events(trades, prices), PnlProcessor(),
                       PNL_OUT_SCHEMA)


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = ("org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")


@contextmanager
def session_conf(spark, key: str, value: str):
    """Set one session conf for a block, then restore the previous value
    (or unset it), so later queries keep whatever the session had."""
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextmanager
def rocksdb_state_store(spark):
    """Run a block on the RocksDB state-store provider that the
    transformWithState builders above need, then restore the session's
    previous provider (or unset it), so later applyInPandasWithState
    queries keep whatever store the session had. Raises when the box
    cannot run transformWithState at all (no protobuf for the workers)."""
    from kafka_flink_processing_spark.session import ensure_tws_ready

    if not ensure_tws_ready(spark):
        raise RuntimeError(
            "transformWithState needs google.protobuf in Spark's Python "
            "workers; neither a wheel nor the vendored runtime is present "
            "on this box (env-gated, like the Kafka sources)")
    with session_conf(spark, _PROVIDER_KEY, _ROCKSDB):
        yield
