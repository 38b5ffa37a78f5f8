"""The repository's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload stream_catchup --seed 1 \
        --seconds 5 --trace 0

Run it from the repository root. Workloads, metrics and the reasons for
them are in perfbench/README.md and BENCHMARK.json. The benchmark drives
the package only through its public calls (`session.get_spark`,
`sources.kafka.parse_topic`, `streaming.jobs.*`, `plans.registry.QUERIES`)
and reads layer numbers from Spark's own records (perfbench/layers.py).

With `--trace 0` the result carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics, measured in a run that also
records spans (written to .perfbench_work/spans/) and the single-threaded
baseline. Everything the run writes stays under .perfbench_work/ in the
working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import redirect_stdout
from datetime import datetime

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

from layers import (  # noqa: E402
    ProcessTree,
    PythonMetrics,
    Tracer,
    persisted_rdds,
    phases_ms,
    stage_totals,
)

# Deployment settings every run passes to the package (session.py reads
# them at import). 2g instead of session.py's 48g default: the benchmark
# box has 15 GB.
CPUS = 2
DRIVER_MEMORY = "2g"

SETUP_REPEATS = 3       # input generation is timed this often; median kept
FILES_PER_TRIGGER = 6   # 2 epochs of 1,350 events per catch-up drain
DRAIN_TIMEOUT_S = 120
SINK_TABLES = ("positions_pnl", "price_exposure")   # pnl_job_jdbc, Derby
DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

BATCH_QUERIES = (
    # desk: an as-of join and a session window (JVM plans)
    "asof_join_events", "session_window_stats",
    # curation: MinHash-LSH dedup (Arrow UDF + artifact memos) and PNG
    # decode (mapInPandas)
    "dedup_minhash_lsh", "multimodal_png_decode",
)

# CPU seconds, not wall time, for the passes: the box shares its host, and
# wall times of whole runs move together by up to +-15% with the host's
# load, while time the host steals is not charged to this VM's processes
END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
}

_BATCH_LAYER = {
    "plans.build_s": "s", "plans.eager_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "operators.exec_s": "s", "operators.jobs": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.executor_run_ms": "ms", "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms", "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.python_boot_ms": "ms", "operators.python_init_ms": "ms",
    "operators.python_run_ms": "ms", "operators.arrow_bytes_sent": "bytes",
    "operators.arrow_bytes_returned": "bytes",
    "functions.udf_run_ms": "ms", "functions.udf_rows": "count",
    "functions.arrow_bytes": "bytes",
    "operators.cached_relations": "count",
}
_JOB_PROGRESS = {
    "query_planning_ms": "ms", "wal_commit_ms": "ms",
    "commit_offsets_ms": "ms", "add_batch_ms": "ms", "rows_per_s": "1/s",
}
_JOB_STATE = {
    "state_rows": "count", "state_memory_bytes": "bytes",
    "state_commit_ms": "ms", "state_update_ms": "ms",
}
_JOB_PYTHON = {
    "python_boot_ms": "ms", "python_run_ms": "ms",
    "arrow_bytes_sent": "bytes", "arrow_bytes_returned": "bytes",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in BENCHMARK.json order.
    A traced run of any workload reports all of them; a layer the workload
    does not exercise reads 0."""
    out = {"session.start_s": "s", "session.worker_warm_s": "s",
           "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
           "sources.parse_s": "s", "sources.input_rows": "count"}
    for job in ("pnl", "forecasts", "ingest"):
        groups = [_JOB_PROGRESS]
        if job != "ingest":   # the ingest passthrough has no state, no Python
            groups += [_JOB_STATE, _JOB_PYTHON]
        for group in groups:
            out.update({f"streaming.{job}.{k}": u for k, u in group.items()})
    out["streaming.sinks.rows_written"] = "count"
    for phase in ("cold", "warm"):
        out.update({f"{k}.{phase}": u for k, u in _BATCH_LAYER.items()})
    out["process.cold_pass_s"] = "s"
    out["process.warm_pass_s"] = "s"
    out["process.step_s_p50"] = "s"
    out["process.peak_rss_mb"] = "MB"
    out["baseline.local1.pass_s"] = "s"
    out["trace.overhead_share"] = "ratio"
    return out


WORKLOADS = ("stream_catchup", "batch_desk_curation")


class Outcome:
    """Operations attempted and failed: epochs, queries and output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)

    def check_frames(self, what: str, got, want) -> None:
        """Exact, order-insensitive equality of two pandas frames."""
        from tools.oracle_check import compare

        with redirect_stdout(sys.stderr):
            ok = compare(what, got, want)
        self.record(ok, f"output check {what}")

    @property
    def failed_share(self) -> float:
        return self.failed / max(self.attempted, 1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def configure_environment(work: str) -> None:
    """Point every file Spark, Derby and Python write into `work`, and pass
    the deployment settings. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={work}/warehouse "
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work}/derby "
            f"-Dderby.stream.error.file={work}/derby.log' pyspark-shell"),
    })
    os.environ.pop("SPARK_MASTER", None)


def package_present() -> bool:
    """The package must come from the working directory, never from an
    installed copy: a run outside a checkout has nothing to measure."""
    return os.path.isfile(os.path.join(ROOT, "kafka_flink_processing_spark",
                                       "__init__.py"))


def warm_workers(spark) -> None:
    """Run the first Spark job, through a scalar pandas UDF, so the JVM's
    first-job cost and the Python worker fork are set-up cost."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    (spark.range(0, 32 * 1024, 1, CPUS).select(_noop("id"))
     .write.mode("overwrite").format("noop").save())


def generate_inputs(kind: str, seed: int, work: str) -> tuple[str, float]:
    """Run the generator process SETUP_REPEATS times; keep the first
    output, return it with the median generation time."""
    times, dirs = [], []
    for i in range(SETUP_REPEATS):
        out = os.path.join(work, f"{kind}-{i}")
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "tapegen.py"),
                        "--seed", str(seed), "--out", out, "--kind", kind],
                       check=True, stdout=subprocess.DEVNULL)
        times.append(time.time() - t0)
        dirs.append(out)
    for extra in dirs[1:]:
        shutil.rmtree(extra)
    return dirs[0], _median(times)


def start_session():
    from kafka_flink_processing_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure_passes(run_pass, seconds, traced, tree, prepare=None,
                   min_warm=1, suffixes=False) -> dict:
    """One cold pass, then warm passes for `seconds` (at least `min_warm`).

    `run_pass(index, trace_this)` returns (wall_s, step_s list, layer dict);
    `prepare(index)`, if given, runs before each pass, outside its time;
    `tree` gives the CPU seconds each pass costs. A traced run alternates
    traced and untraced warm passes (at least one of each), so the tracing
    overhead is measured inside the same run; its per-layer numbers are
    the cold pass's and the median of the traced warm passes (suffixed
    `.cold` / `.warm` when `suffixes`)."""
    def timed(index, trace_this):
        if prepare is not None:
            prepare(index)
        cpu0 = tree.cpu_s()
        wall, steps, layer = run_pass(index, trace_this)
        return wall, tree.cpu_s() - cpu0, steps, layer

    cold_s, cold_cpu, _, cold_layer = timed(0, traced)
    walls = {True: [], False: []}
    cpus, steps, layers = [], [], []
    t0 = time.time()
    i = 0
    while (i < max(min_warm, 2 if traced else 1)
           or time.time() - t0 < seconds):
        trace_this = traced and i % 2 == 0
        wall, cpu, st, layer = timed(i + 1, trace_this)
        walls[trace_this].append(wall)
        if trace_this:
            layers.append(layer)
        else:
            cpus.append(cpu)
            steps.extend(st)
        i += 1
    print(f"passes cold={cold_s:.3f}/{cold_cpu:.2f}cpu warm={walls[False]} "
          f"cpu={cpus} traced={walls[True]}", file=sys.stderr)
    result = {"cold_pass_s": cold_s, "cold_pass_cpu_s": cold_cpu,
              "warm_pass_cpu_s": _median(cpus),
              "warm_pass_s": _median(walls[False]),
              "step_s_p50": _median(steps)}
    if traced:
        warm = {k: _median([d.get(k, 0.0) for d in layers])
                for k in {k for d in layers for k in d}}
        if suffixes:
            warm = {f"{k}.warm": v for k, v in warm.items()}
            warm.update({f"{k}.cold": v for k, v in cold_layer.items()})
        result["layer"] = warm
        result["overhead_share"] = (_median(walls[True])
                                    / _median(walls[False]) - 1)
    return result


# ---------------------------------------------------------------------------
# stream_catchup
# ---------------------------------------------------------------------------

def _topic_stream(spark, tape: str, topic: str):
    from kafka_flink_processing_spark.sources.kafka import parse_topic

    raw = (spark.readStream.format("text")
           .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
           .load(os.path.join(tape, topic)))
    return parse_topic(raw, topic)


def _epoch_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1e3


class _EpochPlans:
    """Walks each streaming epoch's executed plan once, after it ran."""

    def __init__(self, metrics: PythonMetrics):
        self.metrics = metrics
        self.current = None
        self.batch_id = None
        self.totals: dict[str, float] = defaultdict(float)

    def poll(self, query) -> None:
        execution = query._jsq.streamingQuery().lastExecution()
        if execution is None:
            return
        if execution.currentBatchId() != self.batch_id:
            self.flush()
            self.current, self.batch_id = execution, execution.currentBatchId()

    def flush(self) -> None:
        if self.current is not None:
            for k, v in self.metrics.read(self.current.executedPlan()).items():
                self.totals[k] += v
            self.current = None


def _derby(spark, url: str, statements) -> None:
    spark._jvm.java.lang.Class.forName(DERBY["driver"])
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        for sql in statements:
            stmt.executeUpdate(sql)
    finally:
        conn.close()


def create_sink_tables(spark, url: str) -> None:
    """The sink tables exist before the jobs start, as the reference's
    init.sql creates them; column names are quoted like Spark's JDBC
    writer quotes them."""
    from kafka_flink_processing_spark.schemas import (
        POSITIONS_PNL,
        PRICE_EXPOSURE,
    )

    sql_type = {"timestamp": "TIMESTAMP", "string": "VARCHAR(64)",
                "int": "INTEGER", "double": "DOUBLE"}
    _derby(spark, url, [
        f"CREATE TABLE {table} (" + ", ".join(
            f'"{f.name}" {sql_type[f.dataType.simpleString()]}'
            for f in schema.fields) + ")"
        for table, schema in zip(SINK_TABLES, (POSITIONS_PNL, PRICE_EXPOSURE))
    ])


def empty_sink_tables(spark, url: str) -> None:
    _derby(spark, url, [f"DELETE FROM {t}" for t in SINK_TABLES])


def drain(spark, tape, counts, out, url, props, outcome, tracer, traced,
          pymetrics):
    """Restart the four jobs on fresh checkpoints over the staged tape and
    wait until every job has committed every event. Returns the drain wall
    time, the pnl epoch durations and the per-layer numbers."""
    from kafka_flink_processing_spark.streaming.jobs import (
        forecasts_job,
        ingest_job,
        pnl_job_jdbc,
    )

    ckpt = os.path.join(out, "ckpt")
    t0 = time.time()
    with tracer.span("streaming.start_jobs"):
        queries = {
            "ingest_prices": ingest_job(_topic_stream(spark, tape, "prices"),
                                        out, ckpt, "prices"),
            "ingest_trades": ingest_job(_topic_stream(spark, tape, "trades"),
                                        out, ckpt, "trades"),
            "forecasts": forecasts_job(_topic_stream(spark, tape, "prices"),
                                       out, ckpt),
            "pnl": pnl_job_jdbc(_topic_stream(spark, tape, "trades"),
                                _topic_stream(spark, tape, "prices"),
                                url, props, ckpt, available_now=True),
        }
    expected = {"ingest_prices": counts["prices"],
                "ingest_trades": counts["trades"],
                "forecasts": counts["prices"]}
    plans = {name: _EpochPlans(pymetrics) for name in queries}
    done: set[str] = set()
    with tracer.span("streaming.drain"):
        while len(done) < len(queries) and time.time() - t0 < DRAIN_TIMEOUT_S:
            for name, q in queries.items():
                if name in done:
                    continue
                if traced:
                    plans[name].poll(q)
                if name == "pnl":
                    finished = not q.isActive
                else:
                    seen = sum(p["numInputRows"] for p in
                               (json.loads(x.json) for x in q.recentProgress))
                    finished = seen >= expected[name] or not q.isActive
                if finished:
                    # an idle query keeps listing its source; stop it now
                    # so it does not charge CPU while the others finish
                    q.stop()
                    done.add(name)
            time.sleep(0.1)
    progress = {}
    for name, q in queries.items():
        if q.isActive:
            q.stop()
        if traced:
            plans[name].flush()
        ok = name in done and q.exception() is None
        progress[name] = [json.loads(x.json) for x in q.recentProgress]
        epochs = [p for p in progress[name] if p["numInputRows"] > 0]
        for _ in epochs:
            outcome.record(ok, f"{name} epoch")
        if not epochs:
            outcome.record(False, f"{name} committed no epoch")
    ends = [_epoch_end(p) for ps in progress.values() for p in ps
            if p["numInputRows"] > 0]
    wall = (max(ends) if ends else time.time()) - t0
    pnl_epochs = [p["durationMs"]["triggerExecution"] / 1e3
                  for p in progress["pnl"] if p["numInputRows"] > 0]
    layer = _stream_layers(progress, plans) if traced else {}
    return wall, pnl_epochs, layer


def _stream_layers(progress, plans) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for name, ps in progress.items():
        job = "ingest" if name.startswith("ingest") else name
        epochs = [p for p in ps if p["numInputRows"] > 0]
        for p in epochs:
            d = p["durationMs"]
            out["sources.latest_offset_ms"] += d.get("latestOffset", 0)
            out["sources.get_batch_ms"] += d.get("getBatch", 0)
            out["sources.input_rows"] += p["numInputRows"]
            pre = f"streaming.{job}."
            out[pre + "query_planning_ms"] += d.get("queryPlanning", 0)
            out[pre + "wal_commit_ms"] += d.get("walCommit", 0)
            out[pre + "commit_offsets_ms"] += d.get("commitOffsets", 0)
            out[pre + "add_batch_ms"] += d.get("addBatch", 0)
            for st in p.get("stateOperators", []):
                out[pre + "state_commit_ms"] += st.get("commitTimeMs", 0)
                out[pre + "state_update_ms"] += st.get("allUpdatesTimeMs", 0)
        if epochs:
            rows = sum(p["numInputRows"] for p in epochs)
            busy = sum(p["durationMs"].get("triggerExecution", 0)
                       for p in epochs) / 1e3
            out[f"streaming.{job}.rows_per_s"] += rows / busy if busy else 0
            last = epochs[-1].get("stateOperators", [])
            if last:
                out[f"streaming.{job}.state_rows"] += sum(
                    s.get("numRowsTotal", 0) for s in last)
                out[f"streaming.{job}.state_memory_bytes"] += sum(
                    s.get("memoryUsedBytes", 0) for s in last)
        if job != "ingest":
            t = plans[name].totals
            out[f"streaming.{job}.python_boot_ms"] += t.get("op.boot_ms", 0)
            out[f"streaming.{job}.python_run_ms"] += t.get("op.run_ms", 0)
            out[f"streaming.{job}.arrow_bytes_sent"] += t.get(
                "op.bytes_sent", 0)
            out[f"streaming.{job}.arrow_bytes_returned"] += t.get(
                "op.bytes_returned", 0)
    return dict(out)


def _catchup_reference(spark, tape):
    from kafka_flink_processing_spark.operators.pnl import (
        pnl_positions,
        price_exposure,
    )
    from kafka_flink_processing_spark.operators.windows import (
        rolling_sma_forecast,
    )
    from kafka_flink_processing_spark.sources.kafka import parse_topic

    prices = parse_topic(spark.read.text(os.path.join(tape, "prices")),
                         "prices")
    trades = parse_topic(spark.read.text(os.path.join(tape, "trades")),
                         "trades")
    pnl = pnl_positions(trades, prices)
    return {
        "prices": prices,
        "trades": trades,
        "forecasts": rolling_sma_forecast(prices, ["hub"], ["ts"],
                                          "price_mwh").select(
            "ts", "hub", "sma5", "sma20", "forecast_next"),
        "positions_pnl": pnl,
        "price_exposure": price_exposure(pnl),
    }


def check_catchup(spark, tape, out, url, props, outcome) -> int:
    """Every output of the last drain against the batch reference over the
    same tape. Returns the number of rows the sinks hold."""
    ref = _catchup_reference(spark, tape)
    got = {name: spark.read.parquet(os.path.join(out, name)).drop("epoch")
           for name in ("prices", "trades", "forecasts")}
    for table in ("positions_pnl", "price_exposure"):
        got[table] = spark.read.jdbc(url, table, properties=props)
    written = 0
    for name, df in got.items():
        pdf = df.toPandas()
        written += len(pdf)
        outcome.check_frames(name, pdf, ref[name].toPandas())
    return written


def _count_lines(directory: str) -> int:
    n = 0
    for name in os.listdir(directory):
        with open(os.path.join(directory, name)) as fh:
            n += sum(1 for _ in fh)
    return n


def run_stream_catchup(spark, seed, seconds, work, tracer, traced, outcome,
                       tree):
    url = f"jdbc:derby:{work}/derby/pnl;create=true"
    with tracer.span("setup.inputs"):
        tape, gen_s = generate_inputs("tape", seed, work)
        t0 = time.time()
        create_sink_tables(spark, url)
        gen_s += time.time() - t0
    counts = {t: _count_lines(os.path.join(tape, t))
              for t in ("prices", "trades")}
    pymetrics = PythonMetrics()
    outs: list[str] = []

    def reset(index):
        empty_sink_tables(spark, url)
        if outs:
            shutil.rmtree(outs[-1])
        outs.append(os.path.join(work, f"drain-{index}"))

    def one_drain(index, trace_this):
        with tracer.span("drain", index=index):
            return drain(spark, tape, counts, outs[-1], url, DERBY, outcome,
                         tracer, trace_this, pymetrics)

    result = measure_passes(one_drain, seconds, traced, tree, prepare=reset)
    with tracer.span("checks"):
        written = check_catchup(spark, tape, outs[-1], url, DERBY, outcome)
    result["gen_s"] = gen_s
    if traced:
        layer = result["layer"]
        layer["streaming.sinks.rows_written"] = written
        with tracer.span("sources.parse"):
            t0 = time.time()
            ref = _catchup_reference(spark, tape)
            for t in ("prices", "trades"):
                ref[t].write.mode("overwrite").format("noop").save()
            layer["sources.parse_s"] = time.time() - t0
        result["baseline"] = lambda s: _catchup_baseline(
            s, tape, counts, work, outcome, tracer)
    return result


def _catchup_baseline(spark, tape, counts, work, outcome, tracer) -> float:
    url = f"jdbc:derby:{work}/derby/local1;create=true"
    create_sink_tables(spark, url)
    wall, _, _ = drain(spark, tape, counts, os.path.join(work, "local1"),
                       url, DERBY, outcome, tracer, False, None)
    return wall


# ---------------------------------------------------------------------------
# batch_desk_curation
# ---------------------------------------------------------------------------

def clear_warm_state(spark) -> None:
    """Drop the artifact memos and every cached relation (a cold pass)."""
    from kafka_flink_processing_spark.operators.cluster import (
        clear_cluster_caches,
    )
    from kafka_flink_processing_spark.operators.dedup import clear_dedup_caches

    clear_dedup_caches()
    clear_cluster_caches()
    spark.catalog.clearCache()


def batch_pass(spark, data, tag, outcome, tracer, traced, pymetrics,
               keep_results=False):
    """Build and collect every query once. Returns the pass wall time, the
    per-query times, the results (if kept) and the per-layer numbers."""
    from kafka_flink_processing_spark.plans.registry import QUERIES

    sc = spark.sparkContext
    st = sc.statusTracker()
    steps, results = [], {}
    layer: dict[str, float] = defaultdict(float)
    t_pass = time.time()
    for name in BATCH_QUERIES:
        t0 = time.time()
        try:
            with tracer.span("plans.build", query=name):
                if traced:
                    sc.setJobGroup(f"{tag}:{name}:build", name)
                df = QUERIES[name].spark(spark, data)
            t_built = time.time()
            with tracer.span("operators.exec", query=name):
                if traced:
                    sc.setJobGroup(f"{tag}:{name}:exec", name)
                pdf = df.toPandas()
        except Exception as exc:  # a failing query is counted, not fatal
            outcome.record(False, f"query {name}: {exc!r}"[:300])
            continue
        t_done = time.time()
        steps.append(t_done - t0)
        print(f"{tag} {name} {t_done - t0:.3f}s", file=sys.stderr)
        outcome.record(True, f"query {name}")
        if keep_results:
            results[name] = pdf
        if traced:
            with tracer.span("trace.collect", query=name):
                build_jobs = st.getJobIdsForGroup(f"{tag}:{name}:build")
                exec_jobs = st.getJobIdsForGroup(f"{tag}:{name}:exec")
                layer["plans.build_s"] += t_built - t0
                layer["plans.eager_jobs"] += len(build_jobs)
                qe = df._jdf.queryExecution()
                for phase, ms in phases_ms(qe).items():
                    layer[f"plans.{phase}_ms"] += ms
                layer["operators.exec_s"] += t_done - t_built
                layer["operators.jobs"] += len(exec_jobs)
                for k, v in stage_totals(sc, build_jobs + exec_jobs).items():
                    layer[f"operators.{k}"] += v
                py = pymetrics.read(qe.executedPlan())
                layer["operators.python_boot_ms"] += py["op.boot_ms"]
                layer["operators.python_init_ms"] += py["op.init_ms"]
                layer["operators.python_run_ms"] += py["op.run_ms"]
                layer["operators.arrow_bytes_sent"] += py["op.bytes_sent"]
                layer["operators.arrow_bytes_returned"] += (
                    py["op.bytes_returned"])
                layer["functions.udf_run_ms"] += py["udf.run_ms"]
                layer["functions.udf_rows"] += py["udf.rows"]
                layer["functions.arrow_bytes"] += py["udf.bytes"]
    if traced:
        sc.setJobGroup(f"{tag}:idle", "idle")
        layer["operators.cached_relations"] = persisted_rdds(sc)
    return time.time() - t_pass, steps, results, dict(layer)


def check_batch(data, results, outcome) -> None:
    """First-pass results against the registry's DuckDB oracles."""
    from kafka_flink_processing_spark.plans.registry import QUERIES
    from tools.oracle_check import duck_connection

    con = duck_connection(data)
    try:
        for name, pdf in results.items():
            outcome.check_frames(name, pdf,
                                 con.execute(QUERIES[name].oracle).fetchdf())
    finally:
        con.close()


def run_batch(spark, seed, seconds, work, tracer, traced, outcome, tree):
    from kafka_flink_processing_spark.plans.registry import _ensure_loaded

    _ensure_loaded()
    with tracer.span("setup.inputs"):
        data, gen_s = generate_inputs("tables", seed, work)
    pymetrics = PythonMetrics()
    clear_warm_state(spark)
    first_results: dict = {}

    def one_pass(index, trace_this):
        with tracer.span("pass", index=index):
            wall, steps, results, layer = batch_pass(
                spark, data, f"pass{index}", outcome, tracer, trace_this,
                pymetrics, keep_results=index == 0)
        first_results.update(results)
        return wall, steps, layer

    # three warm passes: a pass is short (about 5 s) and its CPU cost
    # varies more from pass to pass than a drain's
    result = measure_passes(one_pass, seconds, traced, tree, min_warm=3,
                            suffixes=True)
    with tracer.span("checks"):
        check_batch(data, first_results, outcome)
    result["gen_s"] = gen_s
    if traced:
        result["baseline"] = lambda s: _batch_baseline(s, data, outcome,
                                                       tracer)
    return result


def _batch_baseline(spark, data, outcome, tracer) -> float:
    return batch_pass(spark, data, "local1", outcome, tracer, False, None)[0]


RUNNERS = {"stream_catchup": run_stream_catchup,
           "batch_desk_curation": run_batch}


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def restart_single_threaded(spark):
    """Replace the session by one on local[1] (same JVM). The memos hold
    DataFrames of the old context, so they go first. The old context stays
    referenced until the new one exists, so the new one cannot reuse its
    id() (the package ships itself once per context id)."""
    old_context = spark.sparkContext
    clear_warm_state(spark)
    spark.stop()
    os.environ["SPARK_MASTER"] = "local[1]"
    try:
        return start_session()
    finally:
        os.environ.pop("SPARK_MASTER", None)
        del old_context


def result_line(outcome: Outcome, metrics: dict[str, tuple[float, str]]):
    return json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1

    if not package_present():
        print("kafka_flink_processing_spark is not in the working directory;"
              " run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    configure_environment(work)

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(traced, run_id)
    outcome = Outcome()
    spark = None
    try:
        with ProcessTree() as tree:
            with tracer.span("session.start"):
                t0 = time.time()
                spark = start_session()
                start_s = time.time() - t0
            with tracer.span("session.worker_warm"):
                t0 = time.time()
                warm_workers(spark)
                warm_s = time.time() - t0
            res = RUNNERS[args.workload](spark, args.seed, args.seconds,
                                         work, tracer, traced, outcome, tree)
            peak_mb = tree.peak_bytes / 2**20
        if traced:
            spark = restart_single_threaded(spark)
            with tracer.span("baseline.local1"):
                warm_workers(spark)
                baseline = res["baseline"](spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        tracer.write(os.path.join(base, "spans", f"{run_id}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    if traced:
        names = per_layer_metrics()
        layer = dict.fromkeys(names, 0.0)
        layer.update(res["layer"])
        layer["session.start_s"] = start_s
        layer["session.worker_warm_s"] = warm_s
        layer["baseline.local1.pass_s"] = baseline
        layer["process.cold_pass_s"] = res["cold_pass_s"]
        layer["process.warm_pass_s"] = res["warm_pass_s"]
        layer["process.step_s_p50"] = res["step_s_p50"]
        layer["process.peak_rss_mb"] = peak_mb
        layer["trace.overhead_share"] = res["overhead_share"]
        metrics = {k: (float(layer[k]), names[k]) for k in names}
    else:
        res["setup_s"] = start_s + warm_s + res["gen_s"]
        metrics = {k: (float(res[k]), END_TO_END[k]) for k in END_TO_END}
    print(f"session_start_s={start_s:.2f} worker_warm_s={warm_s:.2f} "
          f"inputs_s={res['gen_s']:.2f}", file=sys.stderr)
    print(f"failed_share={outcome.failed_share} "
          f"({outcome.failed}/{outcome.attempted})", file=sys.stderr)
    print(result_line(outcome, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
