"""Properties of the one side-input reader for doclens and tombstones.

- reads never write: no query, lookup or compaction read changes a
  file of the index it reads, on either route or on an as_of handle;
- a task closure carries file ranges, not the tombstone set: the
  pickled tombstone reader stays small after a 100,000-id delete;
- each tombstone file is decoded (and its footer read) at most once per
  process, however many epochs and queries read it;
- the process-wide decoded-file cache keeps its byte count exact and
  within budget under concurrent loads.
"""
import os
import sys
import threading

import pytest
from pyspark import cloudpickle

from searcharray_spark import build_index, fsutil
from searcharray_spark import index as index_mod
from searcharray_spark.index import SearchIndex
from searcharray_spark.merge import compact_index

DOCS = ["foo bar bar baz", "data2 foo", "data3 bar baz qux",
        "bunny funny wunny", "foo baz foo bar baz", "qux qux bar"] * 20


@pytest.fixture()
def idx_path(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=16)
    return path


def _listing(path):
    """(relative path, size, mtime_ns) of every file and dir under path."""
    out = []
    for d, dirs, files in os.walk(path):
        for name in dirs + files:
            st = os.stat(os.path.join(d, name))
            out.append((os.path.relpath(os.path.join(d, name), path),
                        st.st_size, st.st_mtime_ns))
    return sorted(out)


def _read_everything(idx, out_path):
    idx.score("bar").collect()
    idx.score(["foo", "bar"]).collect()
    idx.top_k("baz", k=5).collect()
    idx.top_k_pruned(["foo", "qux"], k=5).collect()
    idx.positions("qux").collect()
    idx.docfreqs(["foo", "bar", "qux"])
    idx.doc(5)
    compact_index(idx.spark, idx.path, out_path, as_of=idx.as_of)


def test_reads_never_write(spark, idx_path, tmp_path):
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(range(0, 40, 3))
    idx.update_docs(spark.createDataFrame(
        [(4, "zot bar"), (7, "foo foo")], "doc_id long, text string"))
    idx.delete_docs([4, 50, 51])
    before = _listing(idx_path)

    dist = SearchIndex(spark, idx_path)
    dist.LOCAL_QUERY_MAX_BYTES = dist.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    snap = SearchIndex(spark, idx_path, as_of=2)
    for i, h in enumerate([SearchIndex(spark, idx_path), dist, snap]):
        _read_everything(h, str(tmp_path / f"compact{i}"))
        assert _listing(idx_path) == before, i


def test_tombstone_closure_stays_small(spark, idx_path):
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(range(0, 200_000, 2))
    size = len(cloudpickle.dumps(idx._tombstones()))
    assert size < 64 << 10, size


def test_each_tombstone_file_read_once(spark, idx_path, monkeypatch):
    reads: dict = {}
    footers: dict = {}
    tomb_dir = os.path.join(idx_path, "tombstones")

    def counting(real, counts):
        def read(path, *a, **kw):
            if path == tomb_dir:  # a directory read reads every file
                for p, _ in fsutil.list_parquet_files(path):
                    counts[p] = counts.get(p, 0) + 1
            elif path.startswith(tomb_dir):
                counts[path] = counts.get(path, 0) + 1
            return real(path, *a, **kw)
        return read

    monkeypatch.setattr(fsutil, "read_parquet",
                        counting(fsutil.read_parquet, reads))
    monkeypatch.setattr(fsutil, "parquet_file",
                        counting(fsutil.parquet_file, footers))
    idx = SearchIndex(spark, idx_path)
    for e in range(100):
        idx.delete_docs([e])
    assert len(idx.history()) == 100
    for _ in range(2):
        assert not {r["doc_id"] for r in idx.score("bar").collect()} \
            & set(range(100))
    files = [p for p, _ in fsutil.list_parquet_files(tomb_dir)]
    assert len(files) == 100
    assert max(reads.values()) == 1, max(reads.values())
    assert max(footers.values()) == 1, max(footers.values())


def test_side_file_cache_accounting_under_threads(monkeypatch):
    monkeypatch.setattr(index_mod, "_SIDE_FILE_CACHE", {})
    monkeypatch.setattr(index_mod, "_side_file_cache_bytes", 0)
    monkeypatch.setattr(index_mod, "_SIDE_FILE_CACHE_MAX_BYTES", 1000)
    monkeypatch.setitem(index_mod._DECODERS, "doclens",
                        lambda path, dpb: ({0: path}, 100))

    errors = []

    def load(t):
        try:
            for i in range(2000):
                index_mod._load_side_file(
                    "doclens", f"f{(t * 7 + i) % 50}", (1, 1), None)
        except Exception as exc:  # reported by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=load, args=(t,)) for t in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    cached = index_mod._SIDE_FILE_CACHE
    assert index_mod._side_file_cache_bytes \
        == sum(size for size, _ in cached.values()) <= 1000
