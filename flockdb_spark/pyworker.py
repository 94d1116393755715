"""The engine's PySpark daemon (``spark.python.daemon.module``, set by
``session.get_spark``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``) so files ``addPyFile``
shipped since the last task become importable.  On Python 3.11 each
``zipimporter`` re-reads its archive's whole central directory on that call,
and the worker's ``sys.path`` holds ``pyspark.zip``, the py4j zip and the
spark-core jar (~14 importers over ~6.7k entries): 160-235 ms of every
Python task before the UDF starts.  Here the re-read runs only when the
archive's ``(st_size, st_mtime_ns)`` differs from the one the importer last
read; the stamp lives on each importer, since several share one archive.
``FileFinder`` invalidation is untouched, so ``addPyFile`` still works.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_flock_stamp", None):
        _reread(self)
        self._flock_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    from pyspark import daemon

    # one real re-read here stamps every importer the daemon holds, so
    # forked workers skip it from their first task on
    importlib.invalidate_caches()
    daemon.manager()
