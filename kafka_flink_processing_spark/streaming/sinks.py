"""The one streaming write path (the reference's K1/K2 delivery).

The reference ends every Flink job the same way: each checkpoint writes
its tables through a batched JDBC sink (IngestPricesAndTradesJob.java:
42-46, PnlAndExposureJob.java:53-76), at-least-once. Every streaming job
here writes through this module's four pieces:

- start_epochs: foreachBatch + checkpoint location + the optional
  availableNow trigger — the one way a job starts.
- write_epoch_parquet: exactly-once — each epoch overwrites its own
  `<table_dir>/epoch=N`, so a replayed batch replaces its (possibly
  partial) output instead of duplicating it.
- append_jdbc: at-least-once — INSERTs in JDBC_BATCH_SIZE batches; a
  replayed epoch appends again, like the reference's plain INSERTs.
- epoch_cache: what an epoch persists is unpersisted when it ends, also
  when a write raises.

tests/test_jdbc_sink.py drives the JDBC path live against Spark's bundled
Derby. The second half of the module is the test harness that stages
batch DataFrames as streams and drains them.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

JDBC_BATCH_SIZE = 500   # reference JdbcExecutionOptions batchSize


def start_epochs(df: DataFrame,
                 write_epoch: Callable[[DataFrame, int], None],
                 checkpoint_dir: str, available_now: bool = False):
    """Start `df` with `write_epoch(batch, epoch)` run once per micro-batch
    and the offsets and state checkpointed under `checkpoint_dir`. No
    trigger interval is set, so Spark checkpoints every micro-batch.
    available_now=True drains what is currently readable and stops."""
    writer = (df.writeStream.foreachBatch(write_epoch)
                .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_epoch_parquet(df: DataFrame, table_dir: str, epoch: int) -> None:
    """Exactly-once table write: overwrite `table_dir/epoch=N`."""
    df.write.mode("overwrite").parquet(
        os.path.join(table_dir, f"epoch={epoch}"))


def append_jdbc(df: DataFrame, url: str, table: str,
                properties: dict[str, str]) -> None:
    """At-least-once table write: JDBC INSERTs in JDBC_BATCH_SIZE batches."""
    (df.write.mode("append").option("batchsize", JDBC_BATCH_SIZE)
       .jdbc(url, table, properties=properties))


@contextmanager
def epoch_cache():
    """Per-epoch cache scope: yields `keep(df)`, which persists `df` and
    returns it. Everything kept is unpersisted when the block exits, also
    when a write in it raises, so a failed epoch pins no executor storage."""
    kept: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        kept.append(df.persist())
        return df

    try:
        yield keep
    finally:
        for df in reversed(kept):
            df.unpersist()


def jdbc_batch_sink(df: DataFrame, url: str, table: str,
                    properties: dict[str, str], checkpoint_dir: str,
                    available_now: bool = False):
    """At-least-once JDBC append sink (K1 analogue)."""
    return start_epochs(
        df, lambda batch, _epoch: append_jdbc(batch, url, table, properties),
        checkpoint_dir, available_now)


def parquet_sink(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Exactly-once file sink: each epoch lands in `out_dir/epoch=N`."""
    return start_epochs(
        df, lambda batch, epoch: write_epoch_parquet(batch, out_dir, epoch),
        checkpoint_dir)


# ---------------------------------------------------------------------------
# Test harness: batch DataFrames staged as streams, drained to memory
# ---------------------------------------------------------------------------

def staged_stream(df: DataFrame, base: str,
                  cuts: int | Sequence[float] = (),
                  order_col: str = "ts") -> DataFrame:
    """TEST-HARNESS-ONLY: write `df` as ordered parquet files `base/f0`,
    `base/f1`, ... split at `cuts` of `order_col` (cast to double), and
    open a stream that reads one file per trigger, so file k is
    micro-batch k. Row r lands in file k when cut[k-1] < r <= cut[k]:
    tied rows never straddle a cut. Pass the SAME cuts for every source
    of a multi-source job: per-source cuts would let a later-ts price
    precede an earlier-ts trade across a batch boundary, a genuine
    reorder rather than a state bug. An int `cuts` asks for that many
    files, cut at `order_col`'s exact quantiles. Each file is one
    coalesce(1) write through one task; production jobs read the Kafka
    sources (sources/kafka.py) instead."""
    o = F.col(order_col).cast("double")
    if isinstance(cuts, int):
        cuts = df.select(o.alias("o")).approxQuantile(
            "o", [i / cuts for i in range(1, cuts)], 0.0)
    lo = None
    for i, hi in enumerate([*cuts, None]):
        part = df
        if lo is not None:
            part = part.filter(o > lo)
        if hi is not None:
            part = part.filter(o <= hi)
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/f{i}")
        lo = hi
    return (df.sparkSession.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1).parquet(f"{base}/f*"))


def drain_streaming_result(batch_df: DataFrame, build_stream, tag: str,
                           output_mode: str = "append") -> DataFrame:
    """TEST-HARNESS-ONLY batch->stream->drain: stage `batch_df` as a
    single-file parquet dir, apply `build_stream(stream_df)` and drain it
    availableNow into a memory sink; return the drained table.

    The registered streaming queries (streaming_ohlc_bars,
    streaming_forecast_sma, ...) use this to hash-match their streaming
    operators against batch oracles: one staged file is one deterministic
    micro-batch.

    Leak discipline (r4 advice): the scratch dir (full staging copy +
    checkpoint) is deleted before returning — the memory sink owns the
    drained rows, independent of the staging files — and the sink table
    name is FIXED per tag, so re-invoking a query replaces its previous
    view (and frees those rows) instead of pinning one uuid-named result
    table per invocation for the session's lifetime. Consequence: the
    returned DataFrame is only valid until the same tag is drained again —
    consume it before re-invoking, as every harness does.
    """
    return drain_streaming_multi({"only": batch_df},
                                 lambda s: build_stream(s["only"]),
                                 tag, output_mode=output_mode)


def drain_streaming_multi(batch_dfs: dict[str, "DataFrame"], build_streams,
                          tag: str, output_mode: str = "append") -> DataFrame:
    """Multi-source sibling of drain_streaming_result for queries that need
    SEVERAL independent streams (stream-stream joins): each batch_df is
    staged to its own single-file parquet dir and `build_streams` receives
    `{key: stream_df}`. Same test-harness-only caveats and same leak
    discipline (scratch tree removed, fixed sink table per tag)."""
    import shutil
    import tempfile

    spark = next(iter(batch_dfs.values())).sparkSession
    work = tempfile.mkdtemp(prefix=f"kfps_{tag}_")
    try:  # r5 advice: a failed stage/drain must not leak the scratch tree
        streams = {key: staged_stream(df, f"{work}/src_{key}")
                   for key, df in batch_dfs.items()}
        name = f"{tag}_stream_result"
        spark.catalog.dropTempView(name)  # no-op when absent
        run_available_now(build_streams(streams), name, f"{work}/ckpt",
                          output_mode=output_mode)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(name)


def run_available_now(df: DataFrame, query_name: str, checkpoint_dir: str,
                      output_mode: str = "append"):
    """Drain everything currently available into an in-memory table and stop
    (the reference-parity test harness path). output_mode="complete" for
    streaming aggregations whose full result table should land (windowed
    stats without a watermark); "append" for row streams / stateful emits."""
    q = (df.writeStream.format("memory").queryName(query_name)
           .outputMode(output_mode)
           .option("checkpointLocation", checkpoint_dir)
           .trigger(availableNow=True)
           .start())
    q.awaitTermination()
    return q
