"""Stat-checked `zipimport.zipimporter.invalidate_caches`.

PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task. Before CPython 3.13 that makes each zipimporter on `sys.path_importer_cache`
re-read its archive's whole central directory: one per pyspark subpackage
imported from `pyspark.zip`, plus py4j's zip and the spark-core jar — about
27k entries decoded, ~0.25 s CPU, per task before the UDF runs.

The wrapper re-reads an archive only when its (inode, size, mtime) differs
from the key recorded on that importer at its last read, so a rewritten or
replaced zip (an `addPyFile` payload) is still picked up, and a missing one
still takes the stock path. Python 3.13+ invalidates lazily and is left as is.
Importing the package installs it; every package UDF unpickles into
`html_parser_spark.*`, so each Python worker installs it on its first task.
"""

from __future__ import annotations

import os
import sys
import zipimport


if sys.version_info < (3, 13):
    _stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_stat_key", None):
            # stat before the read: a rewrite racing the read leaves a stale
            # key, which forces another read next time instead of hiding it
            self._stat_key = key
            _stock_invalidate_caches(self)

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
