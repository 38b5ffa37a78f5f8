"""Streaming-job throughput micro-bench (r4 verdict task 5; stateful
operators added r5 task 6).

Part 1 — foreachBatch pipeline jobs (incremental_dedup_job,
decontamination_job) at TWO standing-corpus sizes with the SAME increment,
using StreamingQueryProgress as the timing source. The claim under test:
per-epoch cost scales with the increment, not the corpus — the corpus
artifact (LSH index / Bloom bitmap) is built once and probed per batch, so
a ~10x corpus should shift only the one-off build, not the per-epoch slope.

Part 2 — the applyInPandasWithState operators behind the reference's
actual jobs (streaming_sma_forecast <- ForecastsJob, streaming_pnl <-
PnlAndExposureJob), driven over time-ordered file epochs at TWO input
scales. The claim under test: per-epoch cost tracks the epoch's row count,
flat across epochs — keyed state is a constant-size ring buffer / position
struct per hub(+account), so accumulating history must not grow the
per-row cost.

Every run also reports `jvm_child_cpu_s`: the CPU of the driver JVM's
reaped child processes during the run (cutime + cstime of
/proc/<jvm>/stat). Without Hadoop's native library the local file system
forks for some file operations (`chmod` on every file create), and that
cost is in no Spark metric.

Usage: python tools/stream_bench.py   (prints one JSON line per run)
Numbers land in SCALE.md with the shared-box caveat.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from kafka_flink_processing_spark.session import get_spark  # noqa: E402
from kafka_flink_processing_spark.sources.parquet import load_table  # noqa: E402
from kafka_flink_processing_spark.streaming.jobs import (  # noqa: E402
    decontamination_job,
    incremental_dedup_job,
)
from kafka_flink_processing_spark.streaming.sinks import (  # noqa: E402
    staged_stream,
    start_epochs,
)

N_EPOCHS = 4


def _epochs(q) -> list[dict]:
    """One entry per non-empty trigger of a finished query, read from its
    StreamingQueryProgress: input rows, trigger seconds and the first
    state operator's total rows (None for a stateless query)."""
    prog = [json.loads(p.json) for p in q.recentProgress]
    return [{"rows": p["numInputRows"],
             "sec": round(p["durationMs"]["triggerExecution"] / 1e3, 3),
             "state_rows": (p["stateOperators"][0]["numRowsTotal"]
                            if p.get("stateOperators") else None)}
            for p in prog if p["numInputRows"] > 0]


def _jvm_child_cpu_s(spark) -> float:
    """CPU seconds of the driver JVM's reaped children so far."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def run_stateful(spark, label, build, sources, n_epochs=N_EPOCHS):
    """Drive a stateful streaming operator over n_epochs time-ordered
    file epochs and report per-epoch cost. `sources` maps subdir -> batch
    DataFrame (split by ts so the keyed folds see arrival order);
    `build(streams)` returns the output stream. The sink is a foreachBatch
    count — one action per batch, so numInputRows here IS the true row
    count (unlike the multi-action corpus jobs below). Each epoch also
    records the state store's total rows (stateOperators.numRowsTotal):
    for watermark-bounded operators the claim is a PLATEAU — state tracks
    the watermark lag x rate, not accumulated history."""
    per_epoch_out = []

    def drain(batch, epoch):
        per_epoch_out.append(batch.count())  # forces the fold end-to-end

    with tempfile.TemporaryDirectory(prefix=f"kfps_sbench_{label}_") as td:
        streams = {k: staged_stream(df, f"{td}/{k}", n_epochs)
                   for k, df in sources.items()}
        out = build(streams)
        t0, c0 = time.time(), _jvm_child_cpu_s(spark)
        q = start_epochs(out, drain, f"{td}/ckpt", available_now=True)
        q.awaitTermination()
        wall = time.time() - t0
        child_cpu = _jvm_child_cpu_s(spark) - c0
        epochs = _epochs(q)
    # epoch 1 carries python-worker spin-up + state-store init
    steady = epochs[1:] if len(epochs) > 1 else epochs
    steady_sec = sum(e["sec"] for e in steady)
    steady_rows = sum(e["rows"] for e in steady)
    print(json.dumps({
        "job": label,
        "input_rows": sum(e["rows"] for e in epochs),
        "output_rows": sum(per_epoch_out),
        "epochs": epochs,
        "jvm_child_cpu_s": round(child_cpu, 2),
        "wall_sec": round(wall, 3),
        "steady_rows_per_sec": round(steady_rows / steady_sec, 1)
        if steady_sec else None,
    }))


def run_job(spark, job, corpus, increment, label):
    n_increment = increment.count()
    with tempfile.TemporaryDirectory(prefix=f"kfps_sbench_{label}_") as td:
        stream = staged_stream(increment, f"{td}/src", N_EPOCHS,
                               order_col="doc_id")
        t0, c0 = time.time(), _jvm_child_cpu_s(spark)
        res = job(stream, corpus, f"{td}/out", f"{td}/ckpt",
                  available_now=True)
        # decontamination_job returns (query, cached-artifact); the other
        # jobs return the bare query
        q, artifact = res if isinstance(res, tuple) else (res, None)
        q.awaitTermination()
        wall = time.time() - t0
        child_cpu = _jvm_child_cpu_s(spark) - c0
        epochs = [{"source_rows_read": e["rows"], "sec": e["sec"]}
                  for e in _epochs(q)]
        if artifact is not None:
            artifact.unpersist()
        # numInputRows per trigger counts SOURCE SCANS, not distinct docs:
        # the foreachBatch bodies run several actions over the batch (dup
        # write + accepted anti-join), each re-scanning the file source, so
        # a 125-doc epoch reports ~375 input rows. Throughput is therefore
        # derived from the TRUE doc counts (increment.count() split evenly
        # by the quantile cut), never from numInputRows.
        docs_per_epoch = n_increment / max(len(epochs), 1)
        # first non-empty epoch carries the one-off corpus-artifact build +
        # python worker spin-up; steady state = the later epochs
        steady = epochs[1:] if len(epochs) > 1 else epochs
        steady_sec = sum(e["sec"] for e in steady)
        print(json.dumps({
            "job": label,
            "corpus_rows": corpus.count(),
            "increment_docs": n_increment,
            "docs_per_epoch": docs_per_epoch,
            "epochs": epochs,
            "jvm_child_cpu_s": round(child_cpu, 2),
            "wall_sec": round(wall, 3),
            "steady_docs_per_sec": round(
                docs_per_epoch * len(steady) / steady_sec, 1)
            if steady_sec else None,
        }))


def run_ttl_state(spark):
    """Part 4 (r10): QUANTIFY the TTL's state-growth win. A 16-epoch
    account-CHURN tape — 250 fresh accounts per epoch trade flat and
    never return, four ticks close each epoch — drives the same tws
    engine twice: no TTL (the reference's semantics: the book grows
    forever, every tick fans out every account ever seen) vs a
    2-epoch-span TTL (flat accounts evicted once the watermark passes
    last-trade + TTL). The claims under test, read off
    stateOperators.numRowsTotal: no-TTL state grows LINEARLY in epochs
    (~2 rows per account x 250/epoch + hubs), TTL state PLATEAUS at the
    ~2-epoch active window; and the no-TTL OUTPUT (tick fan-out) grows
    quadratically-ish across the tape while TTL output stays flat."""
    import datetime as dt

    from kafka_flink_processing_spark.streaming.stateful import (
        rocksdb_state_store,
        streaming_pnl_tws,
        streaming_pnl_tws_ttl,
    )

    base = dt.datetime(2024, 1, 1)
    N_EP, PER_EP, W = 16, 250, 3600
    trows, prows = [], []
    tid = 0
    for e in range(N_EP):
        t0 = e * W
        for i in range(PER_EP):
            ts = base + dt.timedelta(seconds=t0 + (i % 60) * 10)
            acct, hub = f"A{e}_{i}", f"HUB{i % 4}"
            px = 50.0 + (i % 7)
            trows.append((tid, ts, acct, hub, "BUY", 5, px)); tid += 1
            trows.append((tid, ts, acct, hub, "SELL", 5, px + 1.0)); tid += 1
        for h in range(4):
            prows.append((base + dt.timedelta(seconds=t0 + W - 10),
                          f"HUB{h}", 60.0, 10_000_000 + e * 4 + h))
    trades = spark.createDataFrame(
        trows, "trade_id long, ts timestamp, account string, hub string, "
               "side string, mw long, price_mwh double")
    prices = spark.createDataFrame(
        prows, "ts timestamp, hub string, price_mwh double, tick_id long")

    with rocksdb_state_store(spark):
        run_stateful(spark, "pnl_tws_no_ttl_churn",
                     lambda s: streaming_pnl_tws(s["t"], s["p"]),
                     {"t": trades, "p": prices}, n_epochs=N_EP)
        run_stateful(spark, "pnl_tws_ttl_2epoch_churn",
                     lambda s: streaming_pnl_tws_ttl(s["t"], s["p"],
                                                     ttl_ms=2 * W * 1000),
                     {"t": trades, "p": prices}, n_epochs=N_EP)


def main():
    spark = get_spark("stream-bench")
    if "--ttl" in sys.argv[1:]:
        run_ttl_state(spark)
        return
    sf01 = "/root/testdata/sf0.1"
    sf001 = "/root/testdata/sf0.01"
    docs_big = load_table(spark, "documents", sf01).select("doc_id", "text")
    docs_small = load_table(spark, "documents", sf001).select("doc_id", "text")

    n_big = docs_big.count()
    cut = int(n_big * 0.9)
    increment = docs_big.filter(F.col("doc_id") >= cut).cache()
    increment.count()
    corpus_small = docs_small.cache()
    corpus_small.count()
    corpus_big = docs_big.filter(F.col("doc_id") < cut).cache()
    corpus_big.count()

    for corpus, tag in ((corpus_small, "small_corpus"),
                        (corpus_big, "big_corpus")):
        run_job(spark, incremental_dedup_job, corpus, increment,
                f"incremental_dedup_{tag}")
    for eval_docs, tag in ((corpus_small, "small_eval"),
                           (corpus_big, "big_eval")):
        run_job(spark,
                lambda s, c, o, k, available_now: decontamination_job(
                    s, c, o, k, n=4, available_now=available_now),
                eval_docs, increment, f"decontamination_{tag}")

    # Part 2: the reference jobs' stateful operators at two input scales
    from kafka_flink_processing_spark.sources.events_market import (
        derive_market,
    )
    from kafka_flink_processing_spark.streaming.stateful import (
        streaming_pnl,
        streaming_sma_forecast,
    )
    for sf, tag in ((sf001, "sf0.01"), (sf01, "sf0.1")):
        trades, prices = derive_market(spark, sf)
        run_stateful(spark, f"forecast_sma_{tag}",
                     lambda s: streaming_sma_forecast(s["prices"]),
                     {"prices": prices})
        run_stateful(spark, f"pnl_{tag}",
                     lambda s: streaming_pnl(s["trades"], s["prices"]),
                     {"trades": trades, "prices": prices})

    # Part 3 (r5 verdict task 5): the watermarked stream-stream interval
    # join (streaming_slippage_join — the reference's CoProcess correlation,
    # PnlAndExposureJob.java:106-144). The thing to watch is JOIN STATE:
    # both sides buffer rows until the watermark passes, so state must
    # plateau at O(watermark lag x rate) per hub while tick HISTORY grows
    # epoch over epoch. 8 epochs give the plateau room to show; per-epoch
    # sec must stay flat alongside.
    from kafka_flink_processing_spark.plans.market import slippage_join_build
    for sf, tag in ((sf001, "sf0.01"), (sf01, "sf0.1")):
        trades, prices = derive_market(spark, sf)
        run_stateful(spark, f"slippage_join_{tag}", slippage_join_build,
                     {"ticks": prices, "trades": trades}, n_epochs=8)


if __name__ == "__main__":
    main()
