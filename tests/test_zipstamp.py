"""Spark's per-task importlib.invalidate_caches() must not re-read an
unchanged zip archive on the import path (see docling_eval_spark.zipstamp)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import docling_eval_spark  # noqa: F401  (installs the stamp check)


def _count_reads(monkeypatch) -> list[str]:
    """Record the archive of every zipimport._read_directory call."""
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zs_mod_a.py", "VALUE = 'a'\n")
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("zs_mod_a", "zs_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zs_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # as Spark's previous task did
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zs_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    with zipfile.ZipFile(zip_on_path, "a") as z:
        z.writestr("zs_mod_b.py", "VALUE = 'b'\n")
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("zs_mod_b").VALUE == "b"


def test_removed_archive_drops_its_directory(zip_on_path):
    assert importlib.import_module("zs_mod_a").VALUE == "a"
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # the stat fails: the original re-read
    assert zip_on_path not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[zip_on_path]._files == {}


def test_python_task_does_not_reread_archives(spark):
    def probe(it):
        import importlib
        import sys
        import zipimport

        import docling_eval_spark  # noqa: F401
        import pandas as pd

        for _ in it:
            pass
        # Spark's setup_spark_files made this call before this task
        importlib.invalidate_caches()
        reads = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or original(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"importers": [len(importers)],
                            "reads": [len(reads)]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "importers int, reads int").collect()
    assert row["importers"] > 0  # the worker imports pyspark from a zip
    assert row["reads"] == 0


def _task_heaps(spark, n_tasks: int):
    """(pid, start order, frozen, tracked) at the start of each of
    `n_tasks` one-row tasks, read before the task's own work."""
    def probe(it):
        import gc
        import os
        import time

        import docling_eval_spark  # noqa: F401
        import pandas as pd

        frozen, tracked = gc.get_freeze_count(), len(gc.get_objects())
        for _ in it:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "t": [time.monotonic_ns()],
                            "frozen": [frozen], "tracked": [tracked]})

    return spark.range(n_tasks, numPartitions=n_tasks).mapInPandas(
        probe, "pid long, t long, frozen long, tracked long"
    ).toPandas().sort_values("t")


def test_warm_task_starts_with_the_import_heap_frozen(spark):
    heaps = _task_heaps(spark, 48)
    # a worker's first task may predate the package import; later ones
    # must find the import heap frozen, so the after-task collect is cheap
    warm = heaps.groupby("pid").apply(lambda g: g.iloc[2:], include_groups=False)
    assert len(warm) > 0
    assert (warm["frozen"] > 0).all()
    assert (warm["tracked"] < 5_000).all(), warm["tracked"].max()


def test_frozen_heap_stops_growing_over_many_tasks(spark):
    heaps = _task_heaps(spark, 480)
    per_pid = heaps.groupby("pid")["frozen"].apply(list)
    frozen = max(per_pid, key=len)
    assert len(frozen) >= 50
    # a per-task leak would keep raising the frozen count
    late = frozen[len(frozen) // 2:]
    assert late[0] > 0
    assert max(late) - late[0] < 10, late
