"""Shipping the package to the Python workers (shipping.py)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap
import zipfile
from pathlib import Path
from types import SimpleNamespace

import pytest

from kafka_flink_processing_spark.shipping import ensure_shipped

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kafka_flink_processing_spark"


class _Context:
    def __init__(self):
        self.shipped = []

    def addPyFile(self, path):
        self.shipped.append(path)


def _session():
    return SimpleNamespace(sparkContext=_Context())


def test_stale_zip_at_old_name_is_not_shipped(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"kafka_flink_processing_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("kafka_flink_processing_spark/__init__.py", "STALE = 1\n")

    first, second = _session(), _session()
    ensure_shipped(first)
    ensure_shipped(first)
    ensure_shipped(second)
    [zpath] = first.sparkContext.shipped
    assert second.sparkContext.shipped == [zpath]
    assert Path(zpath) != stale and Path(zpath).parent == tmp_path
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        [stale.name, Path(zpath).name])  # no partial file left behind

    want = {str(p.relative_to(ROOT)): p.read_bytes()
            for p in PKG.rglob("*.py")}
    with zipfile.ZipFile(zpath) as z:
        assert {n: z.read(n) for n in z.namelist()} == want


def test_context_reusing_a_dropped_contexts_id_gets_the_zip(tmp_path,
                                                           monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dropped = set()
    for _ in range(100):
        spark = _session()
        ensure_shipped(spark)
        assert len(spark.sparkContext.shipped) == 1
        if id(spark.sparkContext) in dropped:
            break
        dropped.add(id(spark.sparkContext))
    else:
        pytest.fail("no context reused an id")


def test_context_created_after_stop_gets_the_zip():
    """A new context may reuse a stopped one's id(); it must still get
    the zip."""
    script = textwrap.dedent(f"""
        import gc, sys
        sys.path.insert(0, {str(ROOT)!r})
        from kafka_flink_processing_spark.session import get_spark
        from kafka_flink_processing_spark.shipping import ensure_shipped
        spark = get_spark("ship-probe")
        ensure_shipped(spark)
        print(spark.sparkContext._python_includes)
        spark.stop()
        del spark
        gc.collect()
        spark = get_spark("ship-probe")
        ensure_shipped(spark)
        print(spark.sparkContext._python_includes)
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="512m")
    env.pop("SPARK_MASTER", None)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300,
                         check=True).stdout.splitlines()
    first, second = out[-2:]
    assert first == second
    assert "kafka_flink_processing_spark_" in second
