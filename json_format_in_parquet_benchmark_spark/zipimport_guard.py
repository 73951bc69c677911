"""Skip re-reading an unchanged zip archive on ``importlib.invalidate_caches()``.

Every Python-UDF task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  Before Python 3.13 that makes each
``zipimport.zipimporter`` re-read its archive's whole directory eagerly: for
``pyspark.zip`` (~27k entries, a dozen importers per worker) about 0.2 s of
every task on a reused worker.  :func:`install` wraps the method so that an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs
from when that importer last read it, or when the archive cannot be stat'ed.
Python 3.13 made the method lazy, so there it does nothing.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the stat check (idempotent)."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(reread, "__wrapped__"):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
