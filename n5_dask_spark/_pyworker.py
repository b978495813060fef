"""Per-process set-up of Spark's Python workers.

Before every task, a reused PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On Python 3.11 that makes every cached ``zipimport.zipimporter`` re-read its
archive's whole central directory in pure Python. A worker holds about a
dozen importers over ``pyspark.zip`` (one per imported subpackage path), two
over the Spark core jar and two over the py4j zip, so each task spent
0.1-0.25 s re-reading ~27k unchanged directory entries before any data
arrived. :func:`install` makes the re-read conditional on the archive having
changed on disk, so a zip rewritten in place (the package zip shipped by
``session.ensure_package_on_executors``) is still re-read.

After every task a reused worker forked by ``pyspark.daemon`` also runs
``gc.collect()``, a full collection over every object the worker holds,
the modules of numpy, pandas, pyarrow and pyspark included: tens of
milliseconds per task. :func:`install` imports those libraries and then
freezes the heap (``gc.freeze()``), so the per-task collection scans only
what the tasks themselves allocate.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the file changed since this
    importer last read it (an unreadable archive is always handed on)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_n5ds_stamp", None):
        _read_directory(self)
        self._n5ds_stamp = stamp


def in_pyspark_worker() -> bool:
    """True in a PySpark daemon (and every worker it forks) or a
    daemon-less worker; False on the driver."""
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return getattr(spec, "name", None) in ("pyspark.daemon", "pyspark.worker")


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()
