"""pyspark's worker daemon with a stat-checked zipimport cache refresh.

pyspark's `worker_util.setup_spark_files` calls `importlib.invalidate_caches()`
at the start of every task. On CPython versions whose
`zipimporter.invalidate_caches` re-reads the archive's whole central directory
in pure Python, each of the ~18 importers on `pyspark.zip` and the shipped
package zip does that read again, every task. The replacement below re-reads an
archive only when its (inode, size, mtime) changed since this process last read
it; otherwise the importer takes the shared `_zip_directory_cache` entry. Run
with `python -m kafka_flink_processing_spark.worker_daemon` (what
`spark.python.daemon.module` does); forked workers inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self):
    """Reload the archive's file data only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _eager_invalidate(self)
    _stamps[self.archive] = stamp


def install() -> bool:
    """Patch `zipimporter` where its cache refresh is the eager re-read."""
    code = getattr(_eager_invalidate, "__code__", None)
    if code is None or "_read_directory" not in code.co_names:
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the archives read so far
    return True


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
