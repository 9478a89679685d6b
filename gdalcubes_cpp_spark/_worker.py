"""A per-task overhead fix that applies only inside a Spark Python worker.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 each
``zipimport.zipimporter`` answers that by re-parsing its archive's whole
central directory in pure Python. A warm worker holds one importer per
package directory it imported from an archive: with Spark 4.1, 12 over
``pyspark.zip`` (1328 entries), 2 over the py4j zip and 2 over the
spark-core jar (5359 entries), ~26.7k entries re-parsed per task, 0.1-0.2 s
of its fixed cost on a 4 vCPU box, more than a small kernel's own work.
CPython 3.13 made the call cheap upstream.

``guard_zip_invalidation`` makes an importer re-read its archive only when
the archive's stat key changed since that importer last read it. The call
exists to pick up archives that were changed or added (``addPyFile``,
``--py-files``): a changed archive changes its key, and a new path gets a
new importer, so both still reach the import system. It needs no conf and
no option; the package ``__init__`` installs it on a worker's first task.

This module imports only the standard library: the driver and the
stream_exec children import the package without loading pyspark.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_KEY_ATTR = "_gcs_read_key"


def guard_zip_invalidation() -> None:
    """Install the zip-invalidation guard when running inside a Spark
    Python worker task; return at once anywhere else."""
    if "pyspark.worker" not in sys.modules:
        return  # never import pyspark from here
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    install_zip_guard()


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install_zip_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so that it runs only when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the one taken
    before this importer's last re-read, or when the stat fails.
    Idempotent; the original stays reachable as ``__wrapped__``."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        # stat BEFORE reading: a change racing the read re-reads next time
        key = _stat_key(self.archive)
        if key is None or getattr(self, _KEY_ATTR, None) != key:
            original(self)
            setattr(self, _KEY_ATTR, key)

    cls.invalidate_caches = invalidate_caches
