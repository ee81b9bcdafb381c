"""Keep zip importers' directories across ``importlib.invalidate_caches()``.

PySpark ends every Python task's ``setup_spark_files`` with
``importlib.invalidate_caches()``, and CPython 3.11's
``zipimporter.invalidate_caches`` then re-reads its whole archive
directory. A worker imports pyspark and py4j from their zips and has the
spark-core jar on its path too: 16 importers and about 27k entries, which
cost 130-280 ms of every task on a 4-vCPU host. `install` makes an
importer re-read only when its archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the one it last read, or
cannot be stat'ed, so a changed ``--py-files`` archive still refreshes.

`skar_spark` installs it on import, so it runs in every Python process that
unpickles engine code: Python workers, DataSource planners and executors.
A new process still pays two full refreshes: the one before it unpickles
engine code, and the one that records each importer's first key.
"""

from __future__ import annotations

import os
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; calling it again is a no-op."""
    refresh = zipimport.zipimporter.invalidate_caches
    if getattr(refresh, "skar_keyed", False):
        return

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_skar_archive_key", None):
            refresh(self)
            self._skar_archive_key = key

    invalidate_caches.skar_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
