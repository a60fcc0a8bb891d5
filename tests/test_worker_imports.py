"""Zip imports in Spark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 that re-reads the directory of every
cached zip importer (pyspark.zip, py4j, --py-files zips), ~0.2 s of CPU
per task. Inside a task, ``import searcharray_spark`` installs
``session._StampedZipImporter``, which re-reads an archive only when its
(mtime, size) stamp changed. The driver's import machinery is untouched.
"""
import importlib
import sys
import zipfile
import zipimport

import pyspark
import pytest

from searcharray_spark import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter invalidates lazily on CPython >= 3.13")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A temp zip first on sys.path, with this test's import machinery
    isolated: path hooks, importer cache and the zip's modules are
    restored afterwards, and importers switched by an install are
    switched back."""
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    plain = [i for i in sys.path_importer_cache.values()
             if type(i) is zipimport.zipimporter]
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"sa_zip_a": "a"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("sa_zip_a", "sa_zip_b"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for imp in plain:
        imp.__class__ = zipimport.zipimporter


def _in_task(monkeypatch):
    monkeypatch.setattr(pyspark.TaskContext, "get",
                        classmethod(lambda cls: object()))


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import sa_zip_a
    assert sa_zip_a.VALUE == "a"
    imp = sys.path_importer_cache[zip_on_path]
    assert type(imp) is zipimport.zipimporter
    files = zipimport._zip_directory_cache[zip_on_path]

    _in_task(monkeypatch)
    session._install_worker_zip_importer()
    # switched in place, directory reused
    assert sys.path_importer_cache[zip_on_path] is imp
    assert type(imp) is session._StampedZipImporter
    assert zipimport._zip_directory_cache[zip_on_path] is files
    assert session._StampedZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks

    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    assert zipimport._zip_directory_cache[zip_on_path] is files


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    import sa_zip_a  # noqa: F401
    _in_task(monkeypatch)
    session._install_worker_zip_importer()
    calls = _count_reads(monkeypatch)

    _write_zip(zip_on_path, {"sa_zip_a": "a", "sa_zip_b": "b"})
    importlib.invalidate_caches()
    assert calls == [zip_on_path]
    import sa_zip_b
    assert sa_zip_b.VALUE == "b"
    importlib.invalidate_caches()
    assert calls == [zip_on_path]


def test_new_archive_uses_installed_hook(zip_on_path, monkeypatch):
    _in_task(monkeypatch)
    session._install_worker_zip_importer()
    import sa_zip_a
    assert sa_zip_a.VALUE == "a"
    assert type(sys.path_importer_cache[zip_on_path]) \
        is session._StampedZipImporter
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls == []


def test_driver_import_machinery_unchanged(zip_on_path):
    import searcharray_spark  # noqa: F401
    import sa_zip_a  # noqa: F401
    session._install_worker_zip_importer()  # no task context: no-op
    assert zipimport.zipimporter in sys.path_hooks
    assert not any(h is session._StampedZipImporter for h in sys.path_hooks)
    assert not any(isinstance(i, session._StampedZipImporter)
                   for i in sys.path_importer_cache.values())
    assert type(sys.path_importer_cache[zip_on_path]) \
        is zipimport.zipimporter


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """Consecutive engine tasks on one reused worker see the same
    pyspark.zip directory dict: the per-task invalidate_caches() did not
    re-read it."""
    def task(it):
        import os
        import sys
        import zipimport

        import pandas as pd

        import searcharray_spark  # noqa: F401
        key = next(k for k in zipimport._zip_directory_cache
                   if os.path.basename(k) == "pyspark.zip")
        cur = zipimport._zip_directory_cache[key]
        prev = getattr(sys, "_sa_test_pyspark_zipdir", None)
        sys._sa_test_pyspark_zipdir = cur
        for _ in it:
            pass
        yield pd.DataFrame({"pid": [os.getpid()],
                            "seen": [prev is not None],
                            "same": [prev is cur]})

    one = spark.range(1, numPartitions=1)
    pids = []
    # idle workers are handed out in turn: run single-task jobs until
    # one lands on a worker that already ran this task
    for _ in range(64):
        r = one.mapInPandas(task, "pid long, seen boolean, same boolean") \
            .collect()[0]
        if r.seen:
            assert r.pid in pids
            assert r.same
            return
        pids.append(r.pid)
    pytest.fail(f"no worker was reused over {len(pids)} tasks")
