"""Ship this package to Spark executors at runtime.

Python-UDF operators (the PnL fold, dedup/text pandas UDFs) are pickled by
module reference; executor workers must be able to import
`kafka_flink_processing_spark` even when the driving process launched Spark
from an unrelated cwd (the spark-graft driver does exactly that). On a real
cluster you'd pass --py-files; for a session we don't own, addPyFile is the
runtime equivalent: zip the package once and register it on the context.

The zip is named by a hash of the packaged sources, so a zip left in the temp
dir by another process or an older checkout is shipped only if its sources
are exactly the current ones, and it is written to a temp file and renamed,
so a reader never sees a partial zip.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_sources() -> dict[str, bytes]:
    """The package's .py files: archive name -> contents."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    top = os.path.dirname(pkg_dir)
    sources = {}
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                with open(full, "rb") as fh:
                    sources[os.path.relpath(full, top)] = fh.read()
    return dict(sorted(sources.items()))


def package_zip() -> str:
    """Path of a zip holding the current package sources."""
    sources = _package_sources()
    digest = hashlib.sha256()
    for name, data in sources.items():
        digest.update(f"{name}\0{len(data)}\0".encode())
        digest.update(data)
    tmp_dir = tempfile.gettempdir()
    zpath = os.path.join(
        tmp_dir, f"kafka_flink_processing_spark_{digest.hexdigest()[:16]}.zip")
    if os.path.exists(zpath):
        return zpath
    fd, part = tempfile.mkstemp(suffix=".zip.part", dir=tmp_dir)
    try:
        with os.fdopen(fd, "wb") as fh:
            os.fchmod(fd, 0o644)
            with zipfile.ZipFile(fh, "w") as z:
                for name, data in sources.items():
                    z.writestr(name, data)
        os.replace(part, zpath)
    except BaseException:
        os.unlink(part)
        raise
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently addPyFile a zip of this package to spark's context."""
    sc = spark.sparkContext
    if getattr(sc, "_kfps_shipped", False):  # a mark, not id(sc): ids recur
        return
    sc.addPyFile(package_zip())
    sc._kfps_shipped = True
