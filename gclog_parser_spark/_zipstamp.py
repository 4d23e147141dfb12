"""Re-read a zip archive's directory only when the archive has changed.

PySpark's worker runs ``setup_spark_files()`` for every task, and it
ends in ``importlib.invalidate_caches()``.  On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's central directory in pure Python.  A worker imports pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) and keeps
16 zipimporters (12 of them over pyspark.zip, one per imported
sub-package path), so each task re-parsed ~16k zip entries before its
UDF ran.  A trivial 4-task job on ``local[4]`` cost 0.29 s of worker
CPU per task with the re-reads and 0.07 s without them
(``tools/worker_cpu.py``, 4-vCPU host).

A zip's directory can change only when the archive file does, so an
importer whose archive has the ``(st_ino, st_size, st_mtime_ns)`` it
last read skips the re-read; newer CPython releases re-read lazily for
the same reason.  The rule covers every process that imports the
package, so a Python worker is covered from the task that unpickles its
first package UDF.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        self._stamp = None  # an archive moved away and back keeps its stat
        return _reread(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
