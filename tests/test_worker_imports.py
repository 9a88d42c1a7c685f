"""Per-task import cost of Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython < 3.12 each cached ``zipimporter`` then re-reads its
archive's whole directory. ``session._stamp_zip_invalidation`` keeps an
unchanged archive's directory and re-reads only a changed one.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from proteus_engine_spark import session


def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "stamped.zip")
    tag = f"stampmod_{os.getpid()}"

    def write(*names):
        with zipfile.ZipFile(archive, "w") as z:
            for name in names:
                z.writestr(f"{tag}_{name}.py", f"NAME = {name!r}\n")

    write("a")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(f"{tag}_a").NAME == "a"
        importlib.invalidate_caches()  # the importer's first stamp
        calls: list[str] = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda path: calls.append(path) or real(path))

        importlib.invalidate_caches()
        assert calls == []

        write("a", "b")
        importlib.invalidate_caches()
        assert importlib.import_module(f"{tag}_b").NAME == "b"
        assert calls == [archive]

        os.remove(archive)
        importlib.invalidate_caches()
        sys.modules.pop(f"{tag}_a")
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(f"{tag}_a")
    finally:
        for name in "ab":
            sys.modules.pop(f"{tag}_{name}", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython 3.12 invalidates zip caches lazily")
def test_zip_invalidation_installed_once():
    method = zipimport.zipimporter.invalidate_caches
    session._stamp_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(method.__wrapped__, "__wrapped__")


def _worker_reads(batches):
    """One row per task: the worker's pid and how many archive directories
    one ``importlib.invalidate_caches()`` reads in it."""
    import pandas as pd

    import proteus_engine_spark  # noqa: F401  (what unpickling engine code does)

    calls = 0
    real = zipimport._read_directory

    def counting(path):
        nonlocal calls
        calls += 1
        return real(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "reads": [calls]})


def test_reused_worker_rereads_no_archive(spark):
    """A reused worker's task start (and any later invalidation) reads no
    unchanged archive. The first job stamps every worker it reaches; the
    second job's tasks that land on those workers must read nothing."""

    def job(tasks):
        df = spark.range(tasks, numPartitions=tasks).mapInPandas(_worker_reads, "pid long, reads long")
        return [(r["pid"], r["reads"]) for r in df.collect()]

    first = job(16)
    seen = {pid for pid, _ in first}
    reused = [reads for pid, reads in job(8) if pid in seen]
    assert reused, "no worker was reused"
    assert reused == [0] * len(reused)
