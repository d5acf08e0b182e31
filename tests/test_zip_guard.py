"""The package's stat guard on ``zipimport.zipimporter.invalidate_caches``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on Python < 3.12 each zipimporter then re-reads its whole
archive directory (``pyspark.zip``: 1,328 entries, ~14 importers).
Importing ``doclayout_yolo_spark`` makes the re-read happen only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` changed (and once to record
the stamp of an archive read before the guard saw it).  These tests pin
both halves: no re-read while the archive is unchanged, a re-read (and
the new module importable) once it changes, and in Spark the same
directory object across the tasks of one Python worker after its first.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import doclayout_yolo_spark  # noqa: F401 — installs the guard
from doclayout_yolo_spark import pipeline

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="the guard is installed on Python < 3.12 only",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipguard_m1": "X = 1\n"})
    saved_path = list(sys.path)
    saved_importers = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zipguard_m1").X == 1

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        # the first call stamps the archive (at most one read), and
        # while it is unchanged the next call reads nothing
        importlib.invalidate_caches()
        assert reads.count(archive) <= 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(
            archive, {"zipguard_m1": "X = 1\n", "zipguard_m2": "Y = 2\n"}
        )
        importlib.invalidate_caches()
        assert reads.count(archive) >= 1
        assert importlib.import_module("zipguard_m2").Y == 2
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        sys.modules.pop("zipguard_m1", None)
        sys.modules.pop("zipguard_m2", None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    def report(batches):
        import os  # noqa: PLC0415
        import zipimport  # noqa: PLC0415

        import pyarrow as pa  # noqa: PLC0415
        import pyspark  # noqa: PLC0415

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        archive = next(
            (a for a in cache if pyspark.__file__.startswith(a + os.sep)), None
        )
        row = [str(os.getpid()), archive, str(id(cache[archive])) if archive else None]
        # built by a package function, so unpickling this kernel imports
        # the package in the worker, as every engine kernel does
        yield pa.RecordBatch.from_arrays(
            [pipeline._arrow_array([v], pa.string()) for v in row],
            names=["pid", "archive", "dir_id"],
        )

    # single-partition jobs until one Python worker has run three of
    # them (idle workers are handed out round-robin).  A worker's first
    # task here may be the one that imports the package, so the guard
    # first runs, and stamps pyspark.zip with one re-read, at its next
    # task: the directory must stay the same from then on.
    seen: dict[str, list[str]] = {}
    for _ in range(36):
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInArrow(report, "pid string, archive string, dir_id string")
            .collect()
        )
        if row.archive is None:
            pytest.skip("Python workers import pyspark from a directory")
        seen.setdefault(row.pid, []).append(row.dir_id)
        if len(seen[row.pid]) > 2:
            break
    assert any(len(ids) > 2 for ids in seen.values()), "no worker ran three tasks"
    assert all(len(set(ids[1:])) <= 1 for ids in seen.values()), seen
