"""Pre-forking PySpark worker daemon with heavy imports already loaded.

PySpark forks one Python worker per concurrent task from a daemon process
(``pyspark/daemon.py``, selected via the documented
``spark.python.daemon.module`` conf). The stock daemon imports only pyspark,
so every fresh worker pays the numpy + pyarrow + codec-kernel import and
numpy cast-kernel warm-up on its first task (~1-2 s). At high parallelism
with few tasks per worker that fixed cost is the scaling-efficiency killer:
32 workers x 1 task each pays it 32 times on the critical path.

Importing the full encode/decode stack *here*, before the daemon starts
forking, lets every worker inherit the warm interpreter via copy-on-write
fork — worker start-up becomes milliseconds. ``session.get_spark`` points
``spark.python.daemon.module`` at this module and extends the executor
``PYTHONPATH`` so it is importable.

(The reference pays an analogous one-time cost per task JVM via its
classloader scope swap, ``PluginClassLoaderScope.java:28-47``; pre-forking
is the Python-side equivalent.)

Zip re-read guard. Every task's ``setup_spark_files`` (pyspark's worker)
calls ``importlib.invalidate_caches()``, and on Python 3.11 each
``zipimport.zipimporter`` answers that by re-reading its archive's whole
central directory. A worker's ``sys.path`` holds ``pyspark.zip`` (1,328
entries), the py4j source zip and the spark-core jar, held by 16
importers, so every task parsed about 26.7k directory entries: 0.24-0.51 s
of Python CPU per task on a 4-core host, most of a small job's wall.
:func:`guard_zip_rereads` makes an importer re-read its archive only when
the archive's ``(st_mtime_ns, st_size)`` differs from when that importer
last read it; a changed archive (an ``addPyFile`` zip rewritten in place)
or a missing one takes the stdlib path as before. It also stamps the zip
importers already cached, so a newly forked worker's first task skips the
re-read too. Measured on that host with a warm session, a no-op Python job
went 0.22-0.24 -> 0.08-0.09 s as 1 task, 0.28-0.34 -> 0.10-0.12 s
as 4 and 0.54-0.67 -> 0.18-0.20 s as 8 (a JVM-only job: 0.10-0.13 s), and
``PythonRunner``'s per-task ``init`` from 250-420 ms to 10-50 ms. The
guard is installed only when this module runs as the daemon, so it lives
in Spark's Python workers alone. With the worker channel on a Unix
domain socket as well (``session.get_spark``), the same jobs take
0.04-0.05 s as 1 task, 0.06-0.09 s as 4 and 0.12-0.13 s as 8, and
``PythonRunner``'s ``finish`` drops from 40-42 ms to 0-1 ms per task.
"""

import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

# Importing the operators package runs the bitpack._warmup() cast-kernel
# initialization, so even numpy's lazily-created cast loops are inherited.
from embulk_input_parquet_hadoop_spark.operators import encode  # noqa: F401
from embulk_input_parquet_hadoop_spark.plans import pipeline  # noqa: F401
# (the encode import above also pulls in codecs._rans_c via intcodecs,
# which builds/loads the optional C hot loops of the xp codec — forked
# workers inherit the bound library instead of compiling on first use)

from pyspark.daemon import manager


def _archive_stamp(path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_size)`` of ``path``; None if it cannot be read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard_zip_rereads() -> None:
    """Patch ``zipimporter.invalidate_caches`` to skip unchanged archives
    and stamp the zip importers already in ``sys.path_importer_cache``."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        # stamped before the read: a write racing the read changes the
        # stamp again, so the next call re-reads
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_stamp", None):
            reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._stamp = _archive_stamp(importer.archive)


if __name__ == "__main__":
    guard_zip_rereads()
    manager()
