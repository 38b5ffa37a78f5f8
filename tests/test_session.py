"""Session posture (session.py): the driver's JIT compile budget, its
heap size and the Python worker daemon."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from kafka_flink_processing_spark.session import (
    WORKER_DAEMON,
    default_driver_memory,
    worker_daemon_conf,
)

# HotSpot's Tier-4 defaults are 5000, 600, 15000 and 40000; the driver
# runs with 10x of each.
TIER4 = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}

ROOT = Path(__file__).resolve().parent.parent


def _vm_options(spark, names):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    return {n: bean.getVMOption(n).getValue() for n in names}


def test_driver_jvm_runs_with_raised_tier4_thresholds(spark):
    assert _vm_options(spark, TIER4) == TIER4


def test_driver_memory_is_a_share_of_the_box_capped_at_48g():
    gib = 2**30
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(4 * gib) == "2048m"
    assert default_driver_memory(96 * gib) == "49152m"
    assert default_driver_memory(512 * gib) == "49152m"
    # with no argument it sizes from this box
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(total)


def test_session_heap_follows_env_override_or_box_default(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_caller_java_options_and_memory_override_still_apply():
    """A fresh driver launched with the caller's --driver-java-options and
    SPARK_DRIVER_MEMORY: the caller's flags, the JIT budget and the heap
    override all reach the JVM."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        sys.path.insert(0, {str(ROOT / "tests")!r})
        from kafka_flink_processing_spark.session import get_spark
        from test_session import TIER4, _vm_options
        spark = get_spark("jit-probe")
        got = _vm_options(spark, list(TIER4) + ["MaxHeapSize"])
        print(spark._jvm.java.lang.System.getProperty("kfps.probe"))
        print(got.pop("MaxHeapSize"))
        print(got == TIER4)
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="512m",
               PYSPARK_SUBMIT_ARGS="--driver-java-options '-Dkfps.probe=set'"
                                   " pyspark-shell")
    env.pop("SPARK_MASTER", None)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300,
                         check=True).stdout.split()
    assert out[-3:] == ["set", str(512 * 2**20), "True"]


def test_worker_daemon_conf_is_set_for_local_masters_only(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", "elsewhere")
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443",
                   "local-cluster[2,1,1024]"):
        assert worker_daemon_conf(master) == {}
    assert os.environ["PYTHONPATH"] == "elsewhere"
    for master in ("local", "local[*]", "local[2]", "local[2,3]"):
        assert worker_daemon_conf(master) == {
            "spark.python.daemon.module": WORKER_DAEMON}
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [str(ROOT),
                                                          "elsewhere"]


def test_local_session_runs_the_worker_daemon(spark):
    assert spark.sparkContext.master.startswith("local[")
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == WORKER_DAEMON
