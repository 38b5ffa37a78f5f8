"""Streaming-parity fuzzer: replay the adversarial corpora through the
Structured Streaming engines and assert exact batch parity.

tools/oracle_fuzz.py hardens the BATCH plans against their DuckDB oracles;
this tool points the same adversarial corpora at the axis oracle_fuzz
cannot see — the streaming machinery. Every corpus is split into multiple
micro-batch files at shared order-column cuts (so state must survive 2+
batch boundaries), drained availableNow, and compared against the trusted
batch engine on the identical input — as MULTISETS for append-mode and
restart drains (set semantics would dedupe a re-emitted row, hiding the
exact failure mode those checks target), as sets for complete-mode drains
whose memory table is replaced each trigger.

EVENT-corpora engines (ties/extreme/sparse/skew):

  pnl          streaming_pnl      (applyInPandasWithState, JSON book)
  pnl_tws      streaming_pnl_tws  (transformWithState, ValueState+MapState)
  pnl_tws_ttl  TTL variant with a never-expiring TTL: must DEGENERATE to
               the non-TTL book while driving timer registration, the
               lastTrade MapState, and the eventtime/watermark wiring
  sma          streaming_sma_forecast      (applyInPandasWithState ring)
  sma_tws      streaming_sma_forecast_tws  (transformWithState ListState)
  tumbling     1h-window agg, complete mode — tumbling partials UPDATED
               by later batches (the registered streaming window queries
               stage one micro-batch, so this state had no coverage)
  session      30min-gap session windows, complete mode — sessions
               MERGING when a later batch extends them
  pnl_tws_ttl_finite
               the ACTUAL eviction path: a small grid-aligned TTL over
               six micro-batches, checked against a deterministic
               pure-Python replay of PnlProcessorTtl (watermark, timers,
               sweep eviction, re-trade-from-zero) — see _pnl_ttl_spec
  pnl_restart / pnl_tws_restart
               two-phase file-sink drains from the SAME checkpoint with a
               stop between: adversarial STATE CONTENT (NaN last-prices
               in the JSON book, extreme doubles through the RocksDB row
               encoders) must survive the checkpoint round-trip with no
               batch-1 re-emission
  pnl_tws_ttl_restart
               the finite-TTL engine through the same two-phase restart:
               timer registrations, watermark, and the lastTrade MapState
               must survive the checkpoint; evicted accounts re-trading
               in phase 2 must restart from a zero fold

vs pnl_positions / rolling_sma_forecast / the identical agg expression in
batch. The r8 PnL determinism bug (same-timestamp ticks made last-price
partition-order-dependent) is exactly this class: invisible to unit tests
on clean data, caught only by adversarial ties — hence events_ties rides
first. SMA threads seq=tick_id so rolling order is total under ties in
BOTH engines (the same tie-break lesson, applied before it bites).

DOC-corpora engines (edge_ascii/random_ascii/zipf_dup/unicode):

  inc_dedup    incremental_dedup_job — the foreachBatch ingest guard's
               epoch fan-out on NULL/empty/unicode/dup-heavy text; spec =
               batch cross-corpus dups UNION within-epoch self-screen
  decon        decontamination_job — Bloom-broadcast screen parity,
               accepted = increment minus flagged
  ccnet_filter ccnet_quality_filter_job — frozen LM + tercile artifacts
               trained on the staged corpus; drained epoch-union must
               equal the batch ccnet_perplexity_buckets rows bit-for-bit
               and the accepted/rejected/unscorable routing must follow
               the terciles

NaN-bearing corpora (events_extreme) compare via a NaN sentinel: NaN !=
NaN would fail set equality even when both engines emit the same rows.

The event-corpus drains run with 3-row Arrow chunks
(spark.sql.execution.arrow.maxRecordsPerBatch), so one key's micro-batch
reaches the Python folds as several chunks: a fold must order the whole
micro-batch, not each chunk.

Usage: python tools/stream_fuzz.py [--seed N] [--corpus NAME ...]
                                   [--engines pnl,sma,inc_dedup,...]
"""

from __future__ import annotations

import argparse
import math
from collections import Counter
import random
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from oracle_fuzz import CORPORA, EVENT_CORPORA, stage_sf_dir  # noqa: E402

from kafka_flink_processing_spark.operators.pnl import pnl_positions  # noqa: E402
from kafka_flink_processing_spark.operators.windows import (  # noqa: E402
    rolling_sma_forecast,
)
from kafka_flink_processing_spark.sources.events_market import derive_market  # noqa: E402
from kafka_flink_processing_spark.session import get_spark  # noqa: E402
from kafka_flink_processing_spark.sources.parquet import load_table  # noqa: E402
from kafka_flink_processing_spark.streaming.sinks import (  # noqa: E402
    run_available_now,
    staged_stream,
)
from kafka_flink_processing_spark.streaming.stateful import (  # noqa: E402
    rocksdb_state_store,
    session_conf,
)

ENGINES = ("pnl", "pnl_tws", "pnl_tws_ttl", "pnl_tws_ttl_finite",
           "sma", "sma_tws", "tumbling", "session",
           "pnl_restart", "pnl_tws_restart", "pnl_tws_ttl_restart")

# documents-family engines: the streaming ingest-guard JOBS
# (foreachBatch fan-out to epoch-partitioned dups/accepted sinks) have
# only ever seen the clean sf0.001 documents; the text corpora feed them
# NULL/empty text, unicode, and pathological duplication. Parity spec is
# the committed job tests' (tests/test_streaming.py): cross-corpus dups
# from the batch operator UNION within-epoch self-screen pairs, accepted
# = increment minus flagged.
DOC_ENGINES = ("inc_dedup", "decon", "ccnet_filter")
DOC_CORPORA = ("edge_ascii", "random_ascii", "zipf_dup", "unicode")

# pnl_tws_ttl runs with a TTL far beyond any corpus's event-time span, so
# no timer can expire during the drain and the output must DEGENERATE to
# the non-TTL book exactly — the check still drives the timer
# registration path and the lastTrade MapState (typed puts, flat-account
# detection) under every adversarial corpus, plus the eventtime/watermark
# wiring the other engines don't use. (A small TTL diverges from batch BY
# DESIGN — eviction is the point — so it cannot be checked against the
# batch engine; the pnl_tws_ttl_finite engine below checks the actual
# eviction path against the deterministic _pnl_ttl_spec replay instead,
# and tests/test_streaming.py::test_pnl_tws_ttl_evicts_long_flat_accounts
# pins the clean-tape behavior.)
_TTL_NEVER_MS = 10 ** 12  # ~31 years of event time

# Arrow chunk size for the event-corpus drains (see run_corpus)
_ARROW_CHUNK_ROWS = 3


def _norm(v):
    # NaN is the one value where exact row equality needs help: Python's
    # float('nan') != float('nan') breaks set membership even for
    # identical rows. +/-0.0 already hash and compare equal.
    if isinstance(v, float) and math.isnan(v):
        return "__NaN__"
    return v


def _rowset(rows):
    return {tuple((k, _norm(v)) for k, v in sorted(r.asDict().items()))
            for r in rows}


def _rowbag(rows):
    """Multiset of normalized rows. The restart engines and every
    append-mode drain compare BAGS, not sets: their stated purpose is
    catching re-emission after a resume (or double-emission across
    triggers), and a re-emitted row is byte-identical to the already-sunk
    one — set semantics would dedupe it and hide exactly the failure mode
    the check targets (r9 advice, medium)."""
    return Counter(tuple((k, _norm(v)) for k, v in sorted(r.asDict().items()))
                   for r in rows)


def _drain(spark, df: DataFrame, name: str, ckpt: str,
           output_mode: str = "append"):
    """Drain availableNow into a memory sink. Append mode accumulates
    across triggers, so its table is compared as a BAG (double-emission
    across batch boundaries must fail parity); complete mode replaces the
    table each trigger, so the last trigger's full result compares as a
    set like before."""
    run_available_now(df, name, ckpt, output_mode=output_mode)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    return _rowbag(rows) if output_mode == "append" else _rowset(rows)


# ---------------------------------------------------------------------------
# Finite-TTL spec replay (r9 verdict task 5): the never-expiring TTL
# degeneration above proves the wiring, but the actual EVICTION path was
# only ever tested on one clean 3-account tape. A finite TTL cannot be
# parity-checked against the batch engine (eviction diverges BY DESIGN),
# so the oracle is a deterministic pure-Python replay of PnlProcessorTtl
# over the exact staged micro-batch composition, built on the spec fold
# netting.HubFold — an implementation independent of the engine's
# operators/pnl.py::fold_hub. The three engine-timing
# facts it encodes were pinned by direct probes against the real engine
# (Spark 4.1, availableNow, maxFilesPerTrigger=1, delay 0s):
#   1. watermark for batch k = floor-ms(max event ts over batches < k)
#      (the union's single watermark column, both sources);
#   2. a timer fires in the first batch whose watermark is >= its expiry
#      (equality fires: probed with wm == expiry exactly);
#   3. expired timers are processed AFTER that batch's input rows (a tick
#      in the firing batch still fans out the about-to-be-evicted
#      account; probed).
# Under staged_stream staging a newly registered timer can never already
# be expired (batch-k rows have ts > every prior batch's max), so the
# register-then-sweep order within a batch is unobservable here.
# ---------------------------------------------------------------------------

def _to_ms(ts) -> int:
    # the engine computes int(pd.Timestamp(ts).value // 1_000_000); same
    # floor-division here (naive == session UTC in both paths)
    import pandas as _pd
    return int(_pd.Timestamp(ts).value // 1_000_000)


def _tagged_records(t_rows, p_rows) -> list[dict]:
    """Collected trades/prices rows -> the tagged-union record shape
    HubFold folds (operators/pnl.py::tagged_events)."""
    from kafka_flink_processing_spark.operators.netting import PRICE, TRADE

    recs = []
    for r in t_rows:
        recs.append({"kind": TRADE, "ts": r.ts, "hub": r.hub,
                     "trade_id": int(r.trade_id), "account": r.account,
                     "side": r.side, "mw": int(r.mw),
                     "price_mwh": r.price_mwh})
    for r in p_rows:
        recs.append({"kind": PRICE, "ts": r.ts, "hub": r.hub,
                     "trade_id": int(r.tick_id), "price_mwh": r.price_mwh})
    return recs


def _split_batches(recs: list[dict], cuts: list[float]) -> list[list[dict]]:
    """Reproduce staged_stream's staging: batch k = rows of BOTH sources
    with cut_{k-1} < ts <= cut_k (epoch seconds, same cast-double
    comparison). Equal file counts per source + maxFilesPerTrigger=1 put
    file k of each source in trigger k (probe-confirmed pairing)."""
    import pandas as _pd

    bounds = list(cuts) + [None]
    batches: list[list[dict]] = [[] for _ in bounds]
    for r in recs:
        o = _pd.Timestamp(r["ts"]).value / 1e9
        k = len(bounds) - 1
        for i, hi in enumerate(bounds):
            if hi is not None and o <= hi:
                k = i
                break
        batches[k].append(r)
    return batches


def _pnl_ttl_spec(batches: list[list[dict] | None],
                  ttl_ms: int) -> list[dict]:
    """Deterministic replay of PnlProcessorTtl (streaming/stateful.py)
    over explicit micro-batches: per batch, per hub — fold rows in the
    documented (ts, kind, trade_id) total order via the spec HubFold,
    record last-trade ms, register flat-account timers at last-flat-ms +
    ttl; then fire every timer whose expiry <= the batch's watermark and
    sweep-evict still-flat accounts with last_trade + ttl <= expiry
    (evicted accounts drop from the book AND lastTrade, so a re-trade
    restarts them from a ZERO fold — realized resets, by design).

    A `None` entry is the NO-DATA microbatch Spark appends at the end of
    an availableNow drain once the watermark has advanced
    (spark.sql.streaming.noDataMicroBatches.enabled, default true): the
    watermark catches up to everything seen and expired timers fire with
    NO input rows first. Within a single drain this is output-invisible
    (firing emits nothing, and there is no later input to suppress), but
    ACROSS a stop/restart it is load-bearing: phase-1 timers fire at the
    end of phase 1, before phase 2's input — the restart engines place a
    `None` between phases. (The probes pinned that no-data batches do
    NOT run between data batches inside one drain: a tick in the firing
    batch still fans out the about-to-be-evicted account. The mechanism
    itself was verified FALSIFIABLY: with
    spark.sql.streaming.noDataMicroBatches.enabled=false the same
    restart tape keeps the account alive into phase 2 — exactly the
    no-sentinel model — and with the default it is evicted at drain
    end.)"""
    from kafka_flink_processing_spark.operators.netting import (
        TRADE,
        HubFold,
        sort_key,
    )

    folds: dict[str, HubFold] = {}
    last_trade: dict[str, dict[str, int]] = {}
    timers: dict[str, set[int]] = {}
    out: list[dict] = []
    wm = 0
    seen_max = 0
    for batch in batches:
        wm = seen_max                      # watermark from PRIOR batches
        by_hub: dict[str, list[dict]] = {}
        for r in (batch or ()):            # None => no-data batch
            by_hub.setdefault(r["hub"], []).append(r)
            seen_max = max(seen_max, _to_ms(r["ts"]))
        for hub, rows in by_hub.items():
            fold = folds.setdefault(hub, HubFold())
            rows.sort(key=sort_key)
            for r in rows:
                out.extend(fold.process(r))
            _lp, book = fold.snapshot()
            lt = last_trade.setdefault(hub, {})
            flat_at: dict[str, int] = {}
            for r in rows:
                if r["kind"] != TRADE:
                    continue
                ms = _to_ms(r["ts"])
                lt[r["account"]] = ms
                if book.get(r["account"], (1,))[0] == 0:
                    flat_at[r["account"]] = ms
            tset = timers.setdefault(hub, set())
            for ms in set(flat_at.values()):
                tset.add(ms + ttl_ms)
        for hub, tset in timers.items():   # timers fire AFTER input rows
            fold = folds.get(hub)
            for expiry in sorted(t for t in tset if t <= wm):
                tset.discard(expiry)
                if fold is None:
                    continue
                lt = last_trade.get(hub, {})
                for acct in list(fold.accounts):
                    if fold.accounts[acct].pos != 0:
                        continue           # open position: never evicted
                    t_last = lt.get(acct)
                    if t_last is None or t_last + ttl_ms <= expiry:
                        del fold.accounts[acct]
                        lt.pop(acct, None)
    return out


def _dictbag(dicts: list[dict]):
    return Counter(tuple((k, _norm(v)) for k, v in sorted(d.items()))
                   for d in dicts)


def _corpus_ttl_ms(t_rows, p_rows) -> int:
    """Deterministic per-corpus TTL: ~span/5, floored to a multiple of
    600 000 ms — the events corpora sit on whole-second (often 600 s)
    grids, so expiries land EXACTLY on tied row timestamps and watermark
    values (the adversarial alignment the r9 verdict asked for), with a
    10-minute floor so degenerate corpora still wire the timer path."""
    ms = [_to_ms(r.ts) for r in t_rows] + [_to_ms(r.ts) for r in p_rows]
    if not ms:
        return 600_000
    span = max(ms) - min(ms)
    return max(600_000, (span // 5) // 600_000 * 600_000)


def run_corpus(spark, cname: str, seed: int, engines: list[str],
               tag: str) -> list[tuple[str, bool]]:
    # tiny Arrow chunks: one key's micro-batch reaches the Python folds
    # as several chunks, so a fold that orders each chunk on its own
    # fails parity
    with session_conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch",
                       str(_ARROW_CHUNK_ROWS)):
        return _run_corpus(spark, cname, seed, engines, tag)


def _run_corpus(spark, cname: str, seed: int, engines: list[str],
                tag: str) -> list[tuple[str, bool]]:
    rng = random.Random(seed)
    rows = EVENT_CORPORA[cname](rng)
    work = tempfile.mkdtemp(prefix=f"kfps_sfz_{cname}_")
    results: list[tuple[str, bool]] = []
    try:
        sf = stage_sf_dir(spark, rows, work, table="events")
        trades, prices = derive_market(spark, sf)
        # shared cuts over BOTH sources' event time -> 3 micro-batches
        allts = (trades.select("ts").unionByName(prices.select("ts"))
                 .select(F.col("ts").cast("double").alias("o")))
        cuts = sorted(set(allts.approxQuantile("o", [1 / 3, 2 / 3], 0.0)))

        if {"pnl", "pnl_tws", "pnl_tws_ttl",
                "pnl_restart", "pnl_tws_restart"} & set(engines):
            want_pnl = _rowbag(pnl_positions(trades, prices).collect())
        if "pnl" in engines:
            from kafka_flink_processing_spark.streaming.stateful import (
                streaming_pnl,
            )
            got = _drain(
                spark,
                streaming_pnl(
                    staged_stream(trades, f"{work}/pt", cuts),
                    staged_stream(prices, f"{work}/pp", cuts)),
                f"sfz_{tag}_pnl", f"{work}/ck_pnl")
            results.append(("pnl", got == want_pnl))
        if "pnl_tws" in engines:
            from kafka_flink_processing_spark.streaming.stateful import (
                streaming_pnl_tws,
            )
            with rocksdb_state_store(spark):
                got = _drain(
                    spark,
                    streaming_pnl_tws(
                        staged_stream(trades, f"{work}/tt", cuts),
                        staged_stream(prices, f"{work}/tp", cuts)),
                    f"sfz_{tag}_pnl_tws", f"{work}/ck_pnl_tws")
            results.append(("pnl_tws", got == want_pnl))
        if "pnl_tws_ttl" in engines:
            from kafka_flink_processing_spark.streaming.stateful import (
                streaming_pnl_tws_ttl,
            )
            with rocksdb_state_store(spark):
                got = _drain(
                    spark,
                    streaming_pnl_tws_ttl(
                        staged_stream(trades, f"{work}/lt", cuts),
                        staged_stream(prices, f"{work}/lp", cuts),
                        ttl_ms=_TTL_NEVER_MS),
                    f"sfz_{tag}_pnl_tws_ttl", f"{work}/ck_pnl_tws_ttl")
            results.append(("pnl_tws_ttl", got == want_pnl))
        if "pnl_tws_ttl_finite" in engines:
            # the ACTUAL eviction path under adversity (r9 verdict task
            # 5): a finite TTL diverges from batch BY DESIGN, so the
            # oracle is the deterministic _pnl_ttl_spec replay over the
            # exact staged batch composition. Six micro-batches (five
            # cuts) give the watermark more advancement points than the
            # shared 3-batch split, so evictions and re-trades of the
            # same account interleave across several boundaries.
            from kafka_flink_processing_spark.streaming.stateful import (
                streaming_pnl_tws_ttl,
            )
            t_rows = trades.collect()
            p_rows = prices.collect()
            ttl_ms = _corpus_ttl_ms(t_rows, p_rows)
            cuts6 = sorted(set(allts.approxQuantile(
                "o", [i / 6 for i in range(1, 6)], 0.0)))
            recs = _tagged_records(t_rows, p_rows)
            want_ttl = _dictbag(
                _pnl_ttl_spec(_split_batches(recs, cuts6), ttl_ms))
            with rocksdb_state_store(spark):
                got = _drain(
                    spark,
                    streaming_pnl_tws_ttl(
                        staged_stream(trades, f"{work}/ft", cuts6),
                        staged_stream(prices, f"{work}/fp", cuts6),
                        ttl_ms=ttl_ms),
                    f"sfz_{tag}_pnl_tws_ttl_finite",
                    f"{work}/ck_pnl_tws_ttl_finite")
            results.append(("pnl_tws_ttl_finite", got == want_ttl))

        if "sma" in engines or "sma_tws" in engines:
            # seq = tick_id: a TOTAL rolling order under same-ts ticks in
            # both engines (seq=0 would leave ties ambiguous on BOTH
            # sides — a spec gap, not a state bug, so close it here)
            p2 = prices.select(
                "ts", "hub", "price_mwh",
                F.col("tick_id").cast("long").alias("seq"))
            want_sma = _rowbag(
                rolling_sma_forecast(p2, ["hub"], ["ts", "seq"],
                                     "price_mwh")
                .select("ts", "hub", "price_mwh", "sma5", "sma20",
                        "forecast_next").collect())
        if "sma" in engines:
            from kafka_flink_processing_spark.streaming.stateful import (
                streaming_sma_forecast,
            )
            got = _drain(
                spark,
                streaming_sma_forecast(
                    staged_stream(p2, f"{work}/sp", cuts),
                    seq_col="seq"),
                f"sfz_{tag}_sma", f"{work}/ck_sma")
            results.append(("sma", got == want_sma))
        if "sma_tws" in engines:
            from kafka_flink_processing_spark.streaming.stateful import (
                streaming_sma_forecast_tws,
            )
            with rocksdb_state_store(spark):
                got = _drain(
                    spark,
                    streaming_sma_forecast_tws(
                        staged_stream(p2, f"{work}/st", cuts),
                        seq_col="seq"),
                    f"sfz_{tag}_sma_tws", f"{work}/ck_sma_tws")
            results.append(("sma_tws", got == want_sma))
        # windowed aggregations, complete mode: the registered streaming
        # window queries drain ONE micro-batch (drain_streaming_result's
        # single-file staging), so neither fuzzer has exercised window
        # STATE across batch boundaries — tumbling partials updated by a
        # later batch, session windows MERGING when a later batch extends
        # them. Batch and streaming run the registered queries' own
        # builders (streaming/windows.py), so engine-level semantics (NaN,
        # dsum scaling) cancel and only the stateful-aggregation
        # machinery is under test.
        windowed: dict[str, object] = {}
        if {"tumbling", "session"} & set(engines):
            from kafka_flink_processing_spark.streaming.windows import (
                streaming_session_stats,
                streaming_tumbling_stats,
            )
            px = prices.select("ts", "hub", "price_mwh")
            windowed = {
                "tumbling": lambda df: streaming_tumbling_stats(df, "1 hour"),
                "session": streaming_session_stats}

        for ename, build in windowed.items():
            if ename not in engines:
                continue
            want = _rowset(build(px).collect())
            got = _drain(
                spark,
                build(staged_stream(px, f"{work}/w_{ename}", cuts)),
                f"sfz_{tag}_{ename}", f"{work}/ck_{ename}",
                output_mode="complete")
            results.append((ename, got == want))

        # checkpoint-restart under adversity: the committed restart tests
        # (tests/test_streaming.py) prove the resume mechanics on CLEAN
        # data; only nasty corpora put NaN last-prices into the JSON book
        # state and extreme doubles through the RocksDB row encoders, so
        # the checkpoint ROUND-TRIP of adversarial state content is its
        # own axis. Two-phase drain: f0 -> file sink + checkpoint, STOP,
        # land f1, fresh query from the SAME checkpoint; the combined
        # sink must equal the batch replay with no batch-1 re-emission.
        if {"pnl_restart", "pnl_tws_restart",
                "pnl_tws_ttl_restart"} & set(engines):
            mid = [cuts[len(cuts) // 2]] if cuts else []

            def _stage_part(df, base, part):
                # guard BEFORE touching mid[0]: on a degenerate corpus
                # with no cuts the whole df lands in part 0 (the old
                # one-liner evaluated mid[0] eagerly and raised
                # IndexError, making the no-cut path dead — r9 advice)
                if mid:
                    o = F.col("ts").cast("double")
                    df = df.filter((o <= mid[0]) if part == 0
                                   else (o > mid[0]))
                df.coalesce(1) \
                    .write.mode("overwrite").parquet(f"{base}/f{part}")

            def _restart_parity(builder, base: str, want=None) -> bool:
                if want is None:
                    want = want_pnl
                out, ckpt = f"{base}/out", f"{base}/ckpt"
                _stage_part(trades, f"{base}/t", 0)
                _stage_part(prices, f"{base}/p", 0)

                def run_once():
                    ts = spark.readStream.schema(trades.schema) \
                        .parquet(f"{base}/t/f*")
                    px_ = spark.readStream.schema(prices.schema) \
                        .parquet(f"{base}/p/f*")
                    q = (builder(ts, px_)
                         .writeStream.format("parquet")
                         .option("path", out)
                         .option("checkpointLocation", ckpt)
                         .outputMode("append")
                         .trigger(availableNow=True).start())
                    q.awaitTermination()

                run_once()
                if mid:  # second phase only when there is a real cut
                    _stage_part(trades, f"{base}/t", 1)
                    _stage_part(prices, f"{base}/p", 1)
                    run_once()
                try:
                    got = _rowbag(spark.read.parquet(out).collect())
                except Exception:  # sink never materialized: no rows
                    got = Counter()
                return got == want

            if "pnl_restart" in engines:
                from kafka_flink_processing_spark.streaming.stateful import (
                    streaming_pnl,
                )
                results.append((
                    "pnl_restart",
                    _restart_parity(streaming_pnl, f"{work}/rs_pnl")))
            if "pnl_tws_restart" in engines:
                from kafka_flink_processing_spark.streaming.stateful import (
                    streaming_pnl_tws,
                )
                with rocksdb_state_store(spark):
                    results.append((
                        "pnl_tws_restart",
                        _restart_parity(streaming_pnl_tws,
                                        f"{work}/rs_tws")))
            if "pnl_tws_ttl_restart" in engines:
                # eviction state itself must survive the checkpoint
                # round-trip: phase 1 registers timers (and possibly
                # evicts), the query STOPS, phase 2 resumes from the
                # checkpoint — watermark, timer registrations, and the
                # lastTrade MapState all restored — then re-trades
                # evicted accounts (which must restart from a ZERO fold,
                # realized reset). Oracle = the same _pnl_ttl_spec over
                # the two-phase batch composition.
                from kafka_flink_processing_spark.streaming.stateful import (
                    streaming_pnl_tws_ttl,
                )
                t_rows2 = trades.collect()
                p_rows2 = prices.collect()
                ttl2 = _corpus_ttl_ms(t_rows2, p_rows2)
                ph = _split_batches(_tagged_records(t_rows2, p_rows2),
                                    mid)
                # phase 1 drain ends with Spark's no-data microbatch:
                # its timer sweep runs BEFORE phase 2's input (None
                # sentinel; see _pnl_ttl_spec)
                batches_rs = [ph[0], None] + ph[1:] if len(ph) > 1 else ph
                want_ttl_rs = _dictbag(_pnl_ttl_spec(batches_rs, ttl2))
                with rocksdb_state_store(spark):
                    results.append((
                        "pnl_tws_ttl_restart",
                        _restart_parity(
                            lambda ts_, px_: streaming_pnl_tws_ttl(
                                ts_, px_, ttl_ms=ttl2),
                            f"{work}/rs_ttl", want=want_ttl_rs)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return results


def _read_epoch_dir(spark, path: str):
    """Epoch-partitioned job output, or None when the sink never wrote a
    file (legitimately empty under sparse corpora)."""
    try:
        return spark.read.option("basePath", path).parquet(f"{path}/epoch=*")
    except Exception:
        return None


def run_doc_corpus(spark, cname: str, seed: int,
                   engines: list[str]) -> list[tuple[str, bool]]:
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen_bloom,
        incremental_minhash_dups,
        minhash_lsh_pairs,
    )
    from kafka_flink_processing_spark.streaming.jobs import (
        decontamination_job,
        incremental_dedup_job,
    )

    rng = random.Random(seed)
    rows = CORPORA[cname](rng)
    work = tempfile.mkdtemp(prefix=f"kfps_sfz_{cname}_")
    results: list[tuple[str, bool]] = []
    try:
        sf = stage_sf_dir(spark, rows, work, table="documents")
        docs = load_table(spark, "documents", sf).select("doc_id", "text")
        ids = sorted(r.doc_id for r in docs.select("doc_id")
                     .distinct().collect())

        if "inc_dedup" in engines:
            # corpus = lower half of ids, increment = upper half streamed
            # in two micro-batches (the job test's shape on nasty text)
            cut = ids[len(ids) // 2]
            corpus = docs.filter(F.col("doc_id") < cut)
            increment = docs.filter(F.col("doc_id") >= cut)
            inc_ids = sorted(i for i in ids if i >= cut)
            icut = [float(inc_ids[len(inc_ids) // 2])] \
                if len(inc_ids) > 1 else []
            want_cross = _rowset(incremental_minhash_dups(
                docs, batch_cond=F.col("doc_id") >= cut).collect())
            stream = staged_stream(increment, f"{work}/inc", icut,
                                   order_col="doc_id")
            q = incremental_dedup_job(stream, corpus, f"{work}/dd_out",
                                      f"{work}/dd_ckpt",
                                      available_now=True)
            q.awaitTermination()
            dups = _read_epoch_dir(spark, f"{work}/dd_out/dups")
            accepted = _read_epoch_dir(spark, f"{work}/dd_out/accepted")
            # within-epoch self-screen expectation: epoch membership is
            # pure file partitioning, derived INDEPENDENTLY from the
            # staged micro-batch split (f0 = doc_id <= icut, f1 = rest;
            # maxFilesPerTrigger=1 makes file k batch/epoch k) instead of
            # from the job's own epoch column — a wrong epoch assignment
            # by the job must FAIL the check, not shift the expectation
            # with it (r9 advice). The job's epoch column is then
            # asserted against this independent mapping.
            if icut:
                e0 = {i for i in inc_ids if float(i) <= icut[0]}
                exp_epochs: dict[int, set] = {0: e0,
                                              1: set(inc_ids) - e0}
            else:
                exp_epochs = {0: set(inc_ids)}
            emitted: list = []
            for df in (dups, accepted):
                if df is not None:
                    emitted += df.select("epoch", "doc_id").collect()
            epoch_ok = all(
                r.epoch in exp_epochs and r.doc_id in exp_epochs[r.epoch]
                for r in emitted)
            want_within = set()
            for eids in exp_epochs.values():
                part = docs.filter(F.col("doc_id").isin(list(eids)))
                for r in minhash_lsh_pairs(part).collect():
                    want_within.add(tuple(sorted(dict(
                        doc_id=max(r.doc_a, r.doc_b),
                        dup_of=min(r.doc_a, r.doc_b),
                        jaccard=_norm(r.jaccard)).items())))
            got = (_rowset(dups.select("doc_id", "dup_of",
                                       "jaccard").collect())
                   if dups is not None else set())
            flagged = ({r.doc_id for r in dups.select("doc_id").collect()}
                       if dups is not None else set())
            acc_ids = ({r.doc_id
                        for r in accepted.select("doc_id").collect()}
                       if accepted is not None else set())
            ok = (epoch_ok
                  and got == want_cross | want_within
                  and acc_ids == set(inc_ids) - flagged)
            results.append(("inc_dedup", ok))

        if "decon" in engines:
            eval_cond = F.col("doc_id") % 13 == 0
            eval_docs = docs.filter(eval_cond)
            increment = docs.filter(~eval_cond)
            inc_ids = sorted(i for i in ids if i % 13 != 0)
            icut = [float(inc_ids[len(inc_ids) // 2])] \
                if len(inc_ids) > 1 else []
            want = _rowset(contamination_screen_bloom(
                docs, eval_cond, n=4).collect())
            stream = staged_stream(increment, f"{work}/dc", icut,
                                   order_col="doc_id")
            q, bloom = decontamination_job(stream, eval_docs,
                                           f"{work}/dc_out",
                                           f"{work}/dc_ckpt", n=4,
                                           available_now=True)
            q.awaitTermination()
            bloom.unpersist()
            hits = _read_epoch_dir(spark, f"{work}/dc_out/contaminated")
            accepted = _read_epoch_dir(spark, f"{work}/dc_out/accepted")
            got = (_rowset(hits.drop("epoch").collect())
                   if hits is not None else set())
            flagged = ({r.doc_id for r in hits.select("doc_id").collect()}
                       if hits is not None else set())
            acc_ids = ({r.doc_id
                        for r in accepted.select("doc_id").collect()}
                       if accepted is not None else set())
            ok = got == want and acc_ids == set(inc_ids) - flagged
            results.append(("decon", ok))

        if "ccnet_filter" in engines:
            from kafka_flink_processing_spark.plans.registry import (
                QUERIES as _REG,
                _ensure_loaded,
            )
            from kafka_flink_processing_spark.streaming.jobs import (
                ccnet_quality_filter_job,
            )
            _ensure_loaded()
            full = load_table(spark, "documents", sf)
            icut = [float(ids[len(ids) // 2])] if len(ids) > 1 else []
            want = {(r.doc_id, r.n_bigrams, _norm(r.xent_nats),
                     r.ppl_tercile)
                    for r in _REG["ccnet_perplexity_buckets"]
                    .spark(spark, sf).collect()}
            stream = staged_stream(full, f"{work}/cq", icut,
                                   order_col="doc_id")
            q, (lm, ter) = ccnet_quality_filter_job(
                stream, full, f"{work}/cq_out", f"{work}/cq_ckpt",
                available_now=True)
            q.awaitTermination()
            lm.unpersist()
            ter.unpersist()
            acc = _read_epoch_dir(spark, f"{work}/cq_out/accepted")
            rej = _read_epoch_dir(spark, f"{work}/cq_out/rejected")
            uns = _read_epoch_dir(spark, f"{work}/cq_out/unscorable")
            routed: list = []
            route_ok = True
            for df, pred in ((acc, lambda t: t in (1, 2)),
                             (rej, lambda t: t == 3),
                             (uns, lambda t: t is None)):
                if df is None:
                    continue
                rows_d = df.select("doc_id", "n_bigrams", "xent_nats",
                                   "ppl_tercile").collect()
                route_ok = route_ok and all(pred(r.ppl_tercile)
                                            for r in rows_d)
                routed += rows_d
            got = {(r.doc_id,
                    r.n_bigrams if r.n_bigrams is not None else 0,
                    _norm(r.xent_nats), r.ppl_tercile) for r in routed}
            # every doc routed exactly once (set equality alone would
            # let a doc land in two sinks with identical rows)
            ok = (route_ok and got == want
                  and len(routed) == len(ids))
            results.append(("ccnet_filter", ok))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--corpus", action="append",
                    choices=sorted(EVENT_CORPORA) + sorted(DOC_CORPORA))
    ap.add_argument("--engines",
                    default=",".join(ENGINES + DOC_ENGINES))
    args = ap.parse_args()
    corpora = args.corpus or (sorted(EVENT_CORPORA) + list(DOC_CORPORA))
    engines = [e for e in args.engines.split(",") if e]
    bad = [e for e in engines if e not in ENGINES + DOC_ENGINES]
    if bad:
        ap.error(f"unknown engines {bad}; pick from "
                 f"{ENGINES + DOC_ENGINES}")
    spark = get_spark("stream_fuzz")
    n_pass = n_fail = 0
    failures: list[str] = []
    for i, cname in enumerate(corpora):
        if cname in EVENT_CORPORA:
            res = run_corpus(spark, cname, args.seed,
                             [e for e in engines if e in ENGINES],
                             tag=f"{i}")
        else:
            res = run_doc_corpus(spark, cname, args.seed,
                                 [e for e in engines if e in DOC_ENGINES])
        for engine, ok in res:
            if ok:
                n_pass += 1
            else:
                failures.append(f"{cname}/{engine}")
                n_fail += 1
            print(f"[{cname}] {engine}: {'OK' if ok else 'FAIL'}",
                  flush=True)
    print(f"\nstream-fuzz pass={n_pass} fail={n_fail}"
          + (f" failures: {failures}" if failures else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
