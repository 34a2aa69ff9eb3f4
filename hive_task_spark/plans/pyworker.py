"""Python worker daemon for the engine's sessions.

``get_session`` names this module as ``spark.python.daemon.module``, so
the JVM starts it as ``python -m hive_task_spark.plans.pyworker
pyspark.worker`` in place of ``pyspark.daemon``. It changes one thing
and then runs PySpark's own daemon loop (``pyspark.daemon.manager``):
every forked worker inherits the change, and the command line still
names ``pyspark.worker``.

The change: a zip archive on the worker's path is re-read only when it
changed. Before each task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimport.zipimporter`` on the path re-parse its archive's whole
directory in pure Python, changed or not. A worker holds about 16 such
importers: ``pyspark.zip`` (1,328 entries) and 10 importers for its
sub-packages, py4j's zip twice and Spark's core jar (5,359 entries)
twice. Together they cost 57-88 ms of every task on a 4-core VM.

The guard keeps CPython's behaviour for a changed archive: an importer
re-reads when its archive's ``(st_size, st_mtime_ns)`` differs from the
stamp it took at its last read, or when the archive is gone. Importers
already open when this module is imported are stamped here, before the
daemon forks, so no task pays their first re-read. An importer opened
later has no stamp, and re-reads once at its first invalidation.

Only the daemon and its workers load this module; the driver never gets
the guard.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since the last read."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_if_changed
for _finder in sys.path_importer_cache.values():
    if isinstance(_finder, zipimport.zipimporter):
        _finder._stamp = _stamp(_finder.archive)

if __name__ == "__main__":
    daemon.manager()
