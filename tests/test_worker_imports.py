"""The engine's worker bodies leave no zip import finder behind.

A reused Python worker calls ``importlib.invalidate_caches()`` before
each task, and on CPython 3.11 every ``zipimporter`` in
``sys.path_importer_cache`` then re-reads its archive's directory.
``core.adapters.drop_zip_finders`` removes those finders at the start of
every engine task, so the next task's call re-reads nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from appengine_mapreduce_spark.core.adapters import drop_zip_finders, map_rows


def test_dropped_zip_finders_are_not_reread_and_still_import(tmp_path, monkeypatch):
    archive = str(tmp_path / "zipmods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_first.py", "VALUE = 1\n")
        zf.writestr("zipmod_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(archive)
    try:
        import zipmod_first

        assert zipmod_first.VALUE == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

        drop_zip_finders()

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert reads == []

        import zipmod_second

        assert zipmod_second.VALUE == 2
        assert zipmod_second.__file__.startswith(archive)
        assert reads == []
    finally:
        for name in ("zipmod_first", "zipmod_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _pid(row):
    yield (os.getpid(),)


def _zip_finders(batches):
    """A plain ``mapInArrow`` body (no engine code): this worker's pid and
    the zip finders left in its path importer cache."""
    for _ in batches:
        pass
    zips = [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "zips": [zips]},
        schema=pa.schema([("pid", pa.int64()), ("zips", pa.list_(pa.string()))]),
    )


def test_engine_tasks_leave_no_zip_finders_in_reused_workers(spark):
    df = spark.range(0, 80, numPartitions=8).toDF("i")
    stage = map_rows(df, _pid, "pid bigint")
    # A worker's first engine task may still import modules after the
    # drop; look at workers that have run one before.
    stage.collect()
    pids = {r.pid for r in stage.collect()}
    left = {r.pid: r.zips for r in df.mapInArrow(_zip_finders, "pid bigint, zips array<string>").collect()}
    both = pids & left.keys()
    assert both, (pids, sorted(left))
    assert {p: left[p] for p in both} == {p: [] for p in both}
