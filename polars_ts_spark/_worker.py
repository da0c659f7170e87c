"""Python-worker preamble: stop each task from re-reading unchanged zip
archives.

A reused PySpark worker starts every task in ``pyspark.worker.main``,
whose ``setup_spark_files`` calls ``importlib.invalidate_caches()``. On
CPython that calls ``zipimporter.invalidate_caches`` on every zip
importer in ``sys.path_importer_cache``, and each call eagerly re-reads
the archive's whole directory. A worker that imports pyspark from
``pyspark.zip`` holds one importer per subpackage (~16), so every task,
whatever its input size, re-read the same 1.3k-entry directory about 16
times: 0.15-0.45 s before the task unpickled its function, measured on
a 4-CPU VM. The archive does not change while the worker lives.

``gate_zip_invalidation`` wraps ``zipimporter.invalidate_caches`` so an
importer re-reads its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at that
importer's last read; a rewritten archive is read again, so
invalidation keeps its meaning. The package calls it on import, and it
acts only inside a Spark task (``TaskContext.get()`` is set): the
driver's import system is left as it is.
"""

from __future__ import annotations

import os
import zipimport

from pyspark import TaskContext


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _gate(original):
    """``original`` (``zipimporter.invalidate_caches``), skipped while
    the importer's archive keeps the stamp of its last read."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        # an archive that cannot be stat'ed is always re-read
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        original(self)
        self._read_stamp = stamp

    invalidate_caches.gated = original
    return invalidate_caches


def gate_zip_invalidation() -> bool:
    """Install the gate in this Python worker; True when it is
    installed. Outside a Spark task, and on a second call, it changes
    nothing."""
    if TaskContext.get() is None:
        return False
    cls = zipimport.zipimporter
    if not hasattr(cls.invalidate_caches, "gated"):
        cls.invalidate_caches = _gate(cls.invalidate_caches)
    return True
