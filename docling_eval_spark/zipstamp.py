"""The worker's one per-task hook: Spark's ``importlib.invalidate_caches()``.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py`` ``setup_spark_files``). `install` hangs
two fixes on that call.

Zip archives. On CPython 3.11, ``zipimport.zipimporter.invalidate_caches``
re-reads the whole central directory of its archive, and a worker holds a
dozen importers over ``pyspark.zip`` plus two over the spark-core jar, so
every task pays about 0.2 s of CPU before any of its own code runs.
CPython 3.12 made the call lazy (gh-103200). On CPython < 3.12 the method
is wrapped: an importer re-reads its archive only when the archive's
(inode, size, mtime) differs from the stamp it last read under. The first
call on an importer still re-reads, to take that stamp. A changed archive
is re-read as before, so archives shipped with ``--py-files`` stay
importable; a failed stat falls through to the original method.

GC freeze. A reused worker runs ``gc.collect()`` after every task
(``pyspark/daemon.py``), and a full collection walks every tracked
object: the ~74k that pandas, pyarrow and the package leave alive at
import, at about 20 ms of CPU per task. `install` also appends one
finder to ``sys.meta_path`` that finds nothing; its
``invalidate_caches``, which ``importlib.invalidate_caches()`` calls on
every meta-path finder, runs ``gc.freeze()`` when a task context is set,
i.e. only inside a task, never on the driver. The heap alive at task
start (the previous task's garbage is already collected) moves to the
permanent generation, so the collection after the task walks only what
the task itself left, about a hundred objects, in well under a
millisecond. What a task keeps alive is frozen at the next task's start,
so the frozen set grows only as long as the worker's caches do. A frozen
object that later dies inside a reference cycle is never collected, so
that set must stay flat from task to task; the tests check that it does.
"""

from __future__ import annotations

import functools
import gc
import os
import sys
import weakref
import zipimport

# importer -> (st_ino, st_size, st_mtime_ns) of its archive at its last read
_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


class _FreezeAtTaskStart:
    """A ``sys.meta_path`` finder that finds nothing and freezes the heap
    when a task calls ``importlib.invalidate_caches()``."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches():
        from pyspark.taskcontext import TaskContext

        if TaskContext.get() is not None:
            gc.freeze()


def install() -> None:
    """Install both hooks once per process."""
    if not any(isinstance(f, _FreezeAtTaskStart) for f in sys.meta_path):
        sys.meta_path.append(_FreezeAtTaskStart())
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
