"""SparkSession factory tuned for this engine.

Local testing runs on local[N] (single JVM); the configs below are chosen so
the same logical plans scale to a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session time zone (parquet testdata
is naive-UTC and the DuckDB oracle is UTC-naive), Arrow for every
pandas-UDF boundary.

JIT compile budget. The engine's jobs are short: the streaming catch-up
path restarts its jobs on fresh checkpoints, and a batch query plans over
small tables. Per-thread CPU from /proc/<jvm>/task (local[2], 2g heap)
showed HotSpot's C2 compiler as the biggest layer, compiling Spark, Scala
and Derby setup code that runs for a few seconds only:

    pass                total CPU   C2 threads   C1 threads   task threads
    stream cold drain     43 s        16.4 s        4.0 s        6.4 s
    stream warm drain     23 s         8.3 s        1.6 s        2.3 s
    batch cold pass       40.5 s      18.6 s        3.8 s        3.9 s
    batch warm pass     9.4-13 s    3.4-5.8 s    0.6-1.0 s       0.5 s

The driver JVM therefore raises HotSpot's four Tier-4 (C2) thresholds
10x (`_DRIVER_JIT_OPTIONS`): planning and setup code stays in C1, per-row
loops still reach C2. Alternatives measured and rejected: C1 only
(-XX:TieredStopAtLevel=1) halves JVM CPU but a 40M-row hash aggregate at
steady state went from 1.72 s to about 4.2 s, against 1.78-1.93 s with
the 10x thresholds; -XX:CICompilerCount=2 and
-XX:CompileThresholdScaling=5 each cut only 3-3.5 s per warm drain; 100x
thresholds gained under 1 s more per drain and delay peak speed. The
flags go into `spark.driver.defaultJavaOptions`, which Spark prepends to
`spark.driver.extraJavaOptions`, so a caller's --driver-java-options
still applies; and only the driver changes: on a cluster the executors,
which run the long per-row work, keep the default tiering. In local mode
the executor threads share the driver JVM, so there the hot loops reach
C2 a few repetitions later; steady-state (best-of-12) query times at
sf0.1 were not slower.

Driver heap: half the box's physical memory, capped at 48g
(`default_driver_memory`); SPARK_DRIVER_MEMORY overrides it.

Python worker daemon. At the start of every task pyspark's
`worker_util.setup_spark_files` calls `importlib.invalidate_caches()`. On
CPython 3.11 that makes each `zipimporter` (19 in a pandas-UDF worker:
one per package directory imported from pyspark.zip, 1,328 entries, or
from the shipped package zip) re-read its archive's whole central
directory in pure Python, 0.06-0.12 s of CPU per task, counted in
`pythonInitTime`. On a local master (`worker_daemon_conf`) the workers
run under `worker_daemon`: pyspark's unchanged daemon with a
`zipimporter.invalidate_caches` that re-reads an archive only when its
(inode, size, mtime) changed, 0 re-reads per steady-state task.
Perfbench medians, 4 interleaved pairs per workload (local[2], 2g heap,
4-core host), parent -> change:

    workload              warm_pass_cpu_s       cold_pass_cpu_s   setup_s
    batch_desk_curation   5.91 -> 4.83 (-18%)   26.30 -> 22.32    13.80 -> 12.43
    stream_catchup        14.94 -> 13.17 (-12%)  26.49 -> 25.48   12.29 -> 13.11

The layer that moved is Python-worker process CPU (daemon, workers and
reaped workers, from /proc): 0.97-1.32 -> 0.23-0.34 s per warm batch
pass, 1.93-2.12 -> 0.39-0.59 s per stream drain. Other masters keep the
stock daemon: their workers may not see this package's path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# On a real cluster these come from spark-submit; the env vars are the local
# test harness knobs (driver sets SPARK_GRAFT_CPUS for bench).
_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))

# Tier-4 (C2) compile thresholds, 10x HotSpot's defaults (5000, 600,
# 15000, 40000); see the module docstring.
_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
WORKER_DAEMON = "kafka_flink_processing_spark.worker_daemon"

# The heap share leaves the rest of the box to the Python workers, the
# page cache and the OS.
_DRIVER_MEMORY_CAP_MB = 48 * 1024
_DRIVER_MEMORY_SHARE = 0.5


def default_driver_memory(total_bytes: int | None = None) -> str:
    """`spark.driver.memory` for a box with `total_bytes` of RAM (default:
    this box's physical memory), as a megabyte string for the JVM."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    share_mb = int(total_bytes * _DRIVER_MEMORY_SHARE) // 2**20
    return f"{min(_DRIVER_MEMORY_CAP_MB, share_mb)}m"


def _prepend_pythonpath(path: str) -> None:
    """Put `path` first on this process's PYTHONPATH, which the JVM (if
    not yet started) passes on to every Python worker."""
    parts = os.environ.get("PYTHONPATH", "")
    if path not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = (path + os.pathsep + parts
                                    if parts else path)


def worker_daemon_conf(master: str) -> dict[str, str]:
    """Spark conf that runs the Python workers under this package's
    daemon (see "Python worker daemon" above) on a local master; {} on
    any other master. Makes the package importable by the daemon, so it
    must run BEFORE the JVM starts; get_spark() calls it."""
    if master != "local" and not master.startswith("local["):
        return {}
    _prepend_pythonpath(os.path.dirname(_PKG_DIR))
    return {"spark.python.daemon.module": WORKER_DAEMON}


def ensure_protobuf_for_tws() -> bool:
    """Make `google.protobuf` reachable in Spark's Python workers when no
    protobuf wheel is installed (transformWithStateInPandas needs it for
    the state-server protocol) by putting the sitecustomize shim dir
    (vendor_pb/ — see its docstring) on PYTHONPATH. Spark merges the
    JVM's inherited PYTHONPATH into every worker's, so this must run
    BEFORE the JVM starts; get_spark() calls it first. Returns True if
    protobuf will be importable in workers (wheel present or shim wired),
    False if the box has neither — callers (the TWS tests) can skip."""
    import importlib.util

    if importlib.util.find_spec("google") is not None and \
            importlib.util.find_spec("google.protobuf") is not None:
        return True
    vendored = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(vendored, "google", "protobuf")):
        return False
    shim_dir = os.path.join(_PKG_DIR, "vendor_pb")
    _prepend_pythonpath(shim_dir)
    # PYTHONPATH alone is NOT enough: the transformWithState driver-side
    # StreamingPythonRunner rebuilds the worker's PYTHONPATH from scratch
    # (no merge with the JVM env). Interpose on the interpreter instead:
    # a wrapper script that re-prepends the shim dir and execs the real
    # python (vendor_pb/python_with_pb). Only set when the user hasn't
    # already pointed PYSPARK_PYTHON somewhere custom beyond the default.
    wrapper = os.path.join(shim_dir, "python_with_pb")
    # Fall back to sys.executable, not `python` from PATH: in a venv
    # launch where PATH python differs from the driver interpreter, the
    # wrapper must exec the interpreter the driver actually runs
    # (r8 advisor).
    import sys
    current = os.environ.get("PYSPARK_PYTHON") or sys.executable
    if current != wrapper and os.access(wrapper, os.X_OK):
        os.environ["KFPS_REAL_PYTHON"] = current
        os.environ["PYSPARK_PYTHON"] = wrapper
    return True


def ensure_tws_ready(spark: SparkSession) -> bool:
    """Runtime (post-JVM) variant of ensure_protobuf_for_tws for sessions
    this engine did not build (the graded driver's vanilla session is
    one): the transformWithState DRIVER-SIDE worker takes its interpreter
    from sc.pythonExec, which pyspark reads at UDF-CREATION time — so
    pointing it at the interposing wrapper works even after the JVM is
    up, where env-var wiring alone cannot (the JVM captured its env at
    launch). The wrapper also prepends this repo's root to the worker
    PYTHONPATH, because StreamingPythonRunner rebuilds the worker's
    PYTHONPATH without the context's addPyFile entries — ensure_shipped's
    zip never reaches the tws driver worker. Idempotent; False when the
    box has neither a protobuf wheel nor the vendored runtime (callers
    env-gate, like the Kafka tests)."""
    if not ensure_protobuf_for_tws():
        return False
    # Route through the wrapper even when a protobuf WHEEL made
    # ensure_protobuf_for_tws return True without wiring it (r8 review):
    # the repo-root PYTHONPATH shipping is needed regardless of how
    # protobuf is satisfied, or the tws driver worker cannot unpickle
    # the processor outside the repo cwd. The wrapper execs
    # $KFPS_REAL_PYTHON (recorded here when the env var can still reach
    # workers, i.e. pre-JVM) or `python` from PATH — on a wheel box any
    # interpreter on PATH sees the same site-packages.
    wrapper = os.path.join(_PKG_DIR, "vendor_pb", "python_with_pb")
    if os.access(wrapper, os.X_OK):
        import sys

        sc = spark.sparkContext
        if getattr(sc, "pythonExec", None) != wrapper:
            # Rerouting sc.pythonExec affects EVERY Python UDF created
            # afterwards, not just tws — so the wrapper must exec the
            # interpreter this driver runs, not whatever `python` PATH
            # resolves to (a venv-launched vanilla session can differ).
            # Record it both in os.environ (pre-JVM spawns inherit it)
            # and sc.environment (PythonWorkerFactory injects these into
            # the worker process env post-JVM). r8 advisor fix.
            real = os.environ.get("KFPS_REAL_PYTHON") or sys.executable
            os.environ.setdefault("KFPS_REAL_PYTHON", real)
            if getattr(sc, "environment", None) is not None:
                sc.environment.setdefault("KFPS_REAL_PYTHON", real)
            sc.pythonExec = wrapper
    return True


def get_spark(app_name: str = "kafka_flink_processing_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    shuffle_partitions defaults to the core count locally; on a 1000-executor
    cluster you would size it to ~2-3x total cores instead (or let AQE
    coalesce from a higher initial number).
    """
    ensure_protobuf_for_tws()  # must precede JVM start (worker PYTHONPATH)
    master = os.environ.get("SPARK_MASTER", f"local[{_CPUS}]")
    builder = (
        SparkSession.builder
        .master(master)
        .config(map=worker_daemon_conf(master))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12: let AQE re-plan (and in particular coalesce) CACHED plans.
        # The iterative operators (BPE trainer, connected-components label
        # propagation, the ccnet score relation) persist small relations
        # and then launch many jobs over them; with the default `false`
        # the cache materializes at the session shuffle width (one task
        # per shuffle partition PER ITERATION even for a few-KB vocab),
        # while `true` sizes the cached relation to its DATA — the same
        # scale-adaptive partitioning AQE already applies everywhere
        # else. Scale-neutral: big cached relations keep their width.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.driver.defaultJavaOptions", " ".join(_DRIVER_JIT_OPTIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode scan parallelism: the testdata is single ~10MB files,
        # which the default 128MB split turns into ONE scan task on a 32-core
        # box. On a cluster (many multi-GB files) keep the default.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
        .config("spark.sql.files.openCostInBytes", "1m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
