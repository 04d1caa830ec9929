"""geowave_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Recreates the query semantics of rfecher/geowave (multi-dimensional SFC
indexing, bbox/polygon range decomposition, exact geometric refinement,
spatial join, kNN, raster tiling/merge/KDE) as idiomatic Spark DataFrame
operators. Reference semantics are cited per-module as
``/root/reference/<path>:<line>``; no reference code is copied — the
execution strategy is Spark-first (Catalyst plans, native column
expressions for the hot path, Arrow-batched pandas UDFs for geometry).

Coordinate convention
---------------------
Canonical coordinates are **integer micro-degrees** (``x_u = lon * 1e6``,
``y_u = lat * 1e6`` as BIGINT) so that index assignment, refinement and
the DuckDB correctness oracles are bit-exact across engines. Geometry
payload columns are WKB binary (the reference's own PySpark convention:
analytics/pyspark/src/main/python/geowave_pyspark/types.py:16-33).
"""

import os
import sys

__version__ = "0.1.0"

X_SCALE = 1_000_000  # micro-degrees per degree
WORLD_X_U = 360_000_000  # full longitude span in micro-degrees
LON_OFF_U = 180_000_000
LAT_OFF_U = 180_000_000

MAX_RES = 31  # bits per dimension; 2*31 = 62-bit Morton key fits a signed long


def _skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that did
    not change, inside a PySpark worker task only.

    The PySpark worker (``worker_util.setup_spark_files``) calls
    ``importlib.invalidate_caches()`` at the start of every task, and
    reused workers run many tasks. On CPython 3.11 that refreshes every
    cached ``zipimporter``, and the worker imports pyspark from
    ``pyspark.zip``: each package loaded from it (``pyspark/sql``,
    ``pyspark/sql/pandas``, ``pyspark/core``, ...) has its own importer,
    and each one re-parses the archive's whole central directory (1,328
    entries, 6-9 ms apiece). Measured on a 4-vCPU VM, that was 117-274
    ms of worker CPU per task before its first row; every other
    per-task worker phase took under 0.3 ms.

    The wrapper keeps the semantics of ``invalidate_caches``: it skips
    the re-read only when the archive's ``(st_ino, st_size,
    st_mtime_ns)`` equals the one taken just before that importer last
    read it. A rewritten or replaced archive changes the key and is
    re-read by the original method, as is any importer that has not
    read through the wrapper yet. The driver process is left alone:
    without a task context nothing is patched.
    """
    pyspark = sys.modules.get("pyspark")
    if pyspark is None or pyspark.TaskContext.get() is None:
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is not None and getattr(self, "_read_key", None) == key:
            return
        original(self)
        self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
