"""load_table (sources/parquet.py) infers a file's schema once: a reload
of an unchanged file starts no Spark job, a rewritten file is inferred
again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_flink_processing_spark.sources.parquet import load_table


def _jobs_started(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reload_of_unchanged_file_starts_no_job(spark, tmp_path):
    path = tmp_path / "probe.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3], "v": [0.5, 1.5, 2.5]}), path)
    first, n_first = _jobs_started(
        spark, "parquet-first", lambda: load_table(spark, "probe", str(tmp_path)))
    again, n_again = _jobs_started(
        spark, "parquet-again", lambda: load_table(spark, "probe", str(tmp_path)))
    assert n_first >= 1
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "probe.parquet"
    pq.write_table(pa.table({"id": [1, 2]}), path)
    assert load_table(spark, "probe", str(tmp_path)).columns == ["id"]
    pq.write_table(pa.table({"id": [3], "tag": ["x"]}), path)
    df, n = _jobs_started(
        spark, "parquet-rewritten",
        lambda: load_table(spark, "probe", str(tmp_path)))
    assert n >= 1
    assert df.columns == ["id", "tag"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_partitioned_directory_reload_keeps_schema_and_rows(spark, tmp_path):
    out = tmp_path / "probe.parquet"
    (spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, k string")
     .write.partitionBy("k").parquet(str(out)))
    first = load_table(spark, "probe", str(tmp_path))
    again, n = _jobs_started(
        spark, "parquet-partitioned",
        lambda: load_table(spark, "probe", str(tmp_path)))
    assert n == 0
    assert again.schema == first.schema == spark.read.parquet(str(out)).schema
    assert sorted(again.collect()) == sorted(first.collect())
    # a new partition directory changes the listing: inferred again
    (spark.createDataFrame([(4, "c")], "id long, k string")
     .write.mode("append").partitionBy("k").parquet(str(out)))
    assert os.path.isdir(out / "k=c")
    grown, n = _jobs_started(
        spark, "parquet-grown",
        lambda: load_table(spark, "probe", str(tmp_path)))
    assert n >= 1
    assert grown.count() == 4
