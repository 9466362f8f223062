"""Re-read a zip on the import path only when the archive has changed.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py`` ``setup_spark_files``). On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a worker holds a dozen importers over
``pyspark.zip`` plus two over the spark-core jar, so every task pays
about 0.2 s of CPU before any of its own code runs. CPython 3.12 made the
call lazy (gh-103200).

`install` wraps the method on CPython < 3.12: an importer re-reads its
archive only when the archive's (inode, size, mtime) differs from the
stamp it last read under. The first call on an importer still re-reads,
to take that stamp. A changed archive is re-read as before, so archives
shipped with ``--py-files`` stay importable; a failed stat falls through
to the original method.
"""

from __future__ import annotations

import functools
import os
import sys
import weakref
import zipimport

# importer -> (st_ino, st_size, st_mtime_ns) of its archive at its last read
_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(original, "_stamped", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (OSError, ValueError):
            _stamps.pop(self, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if _stamps.get(self) != stamp:
            original(self)
            _stamps[self] = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
