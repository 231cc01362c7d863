"""Read a zip archive's directory again only when the archive changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``setup_spark_files``, pyspark/worker_util.py:144
in Spark 4.1). On CPython 3.11 and 3.12 that makes every
``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's central directory at once (Lib/zipimport.py:329 in 3.11.7,
:271 in 3.12.1). A worker holds about 16 importers (into
``pyspark.zip``, the py4j zip and the spark-core jar), so each task
paid ~0.2 CPU-s before its first row. CPython 3.13 only drops the
cache entry and re-reads lazily on the next lookup
(Lib/zipimport.py:276 in 3.13.0).

Importing this module on CPython < 3.13 replaces
``zipimporter.invalidate_caches`` once per process. The replacement
stats the archive and compares ``(st_mtime_ns, st_size)`` with the
stamp taken before its last read. When they match and
``zipimport._zip_directory_cache`` still holds the archive, the
importer is pointed at that cached directory and nothing is read.
Otherwise (no stamp yet, no cache entry, a changed stamp, or an
``OSError`` from ``stat``) it calls the stdlib method, so a rewritten
archive is re-read and a missing one is dropped exactly as before.

Delete this module once the worker runtime is CPython >= 3.13.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

if sys.version_info < (3, 13) and not hasattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__"
):
    _eager = zipimport.zipimporter.invalidate_caches
    _stamps: dict[str, tuple[int, int]] = {}

    @functools.wraps(_eager)
    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return _eager(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return None
        _stamps[self.archive] = stamp
        return _eager(self)

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
