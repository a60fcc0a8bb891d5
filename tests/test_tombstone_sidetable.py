"""Tombstones read per block from the tombstone files (SideReader).

Every tombstone file holds one epoch's rows; an epoch of more than
TOMBSTONE_FILE_ROWS rows is written as several files range-partitioned
by doc_id, and a kernel resolves a block's tombstones from only the
files covering it. The cap is set tiny here so every epoch spans
several files. Results must equal the compacted index (tombstones
materialized away) through every path: both query routes, df
corrections, positions, reopened handles, update plus compaction.
"""
import pytest

from searcharray_spark import build_index
from searcharray_spark import index as index_mod
from searcharray_spark.index import SearchIndex, SideReader
from searcharray_spark.merge import compact_index

DOCS = ["foo bar bar baz", "data2 foo", "data3 bar baz qux",
        "bunny funny wunny", "foo baz foo bar baz", "qux qux bar"] * 50


@pytest.fixture(autouse=True)
def small_tombstone_files(monkeypatch):
    monkeypatch.setattr(index_mod, "TOMBSTONE_FILE_ROWS", 8)


@pytest.fixture()
def idx_path(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=32)
    return path


def _snapshot(idx):
    out = {}
    out["score"] = sorted(tuple(r) for r in idx.score("bar").collect())
    out["phrase"] = sorted(tuple(r)
                           for r in idx.termfreqs(["foo", "bar"]).collect())
    out["topk"] = [tuple(r) for r in idx.top_k("baz", k=8).collect()]
    out["pos"] = sorted((r["doc_id"], tuple(r["posns"]))
                        for r in idx.positions("qux").collect())
    out["df"] = idx.docfreqs(["foo", "bar", "baz", "qux"])
    out["stats"] = (idx.num_docs, round(idx.avg_doc_len, 6))
    return out


def _distributed(spark, path):
    idx = SearchIndex(spark, path)
    idx.LOCAL_QUERY_MAX_BYTES = idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    return idx


def _files_per_epoch(tomb):
    out: dict = {}
    for seg, path, *_ in tomb.ranges:
        out.setdefault(seg, set()).add(path)
    return {seg: len(paths) for seg, paths in out.items()}


def _every_handle(spark, path):
    """A reopened handle on each query route."""
    return [SearchIndex(spark, path), _distributed(spark, path)]


def test_sidetable_matches_compacted(spark, idx_path, tmp_path):
    dead = list(range(0, 300, 10)) + list(range(7, 200, 3))
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(dead)
    tomb = idx._tombstones()
    assert isinstance(tomb, SideReader) and bool(tomb)
    # one epoch, several files (the cap is 8 rows a file)
    (n_files,) = _files_per_epoch(tomb).values()
    assert n_files > 1

    want = _snapshot(compact_index(spark, idx_path,
                                   str(tmp_path / "compact")))
    assert _snapshot(idx) == want
    for h in _every_handle(spark, idx_path):
        assert _snapshot(h) == want


def test_sidetable_sees_new_deletes(spark, idx_path, tmp_path):
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(range(0, 60))
    assert idx._tombstones().get(0) is not None
    before = sorted(tuple(r) for r in idx.score("bar").collect())
    # second wave: a new epoch's files join the reader
    idx.delete_docs(range(60, 120))
    assert all(n > 1 for n in _files_per_epoch(idx._tombstones()).values())
    after = sorted(tuple(r) for r in idx.score("bar").collect())
    assert {r[0] for r in after} & set(range(0, 120)) == set()
    assert len(after) < len(before)

    want = _snapshot(compact_index(spark, idx_path,
                                   str(tmp_path / "compact")))
    assert want["score"] == after
    assert _snapshot(idx) == want
    for h in _every_handle(spark, idx_path):
        assert _snapshot(h) == want


def test_sidetable_update_and_compact(spark, idx_path, tmp_path):
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(range(0, 90, 2))
    upd = spark.createDataFrame(
        [(4, "zot zot bar"), (11, "foo zot")], "doc_id long, text string")
    idx.update_docs(upd)  # resurrects 4 with new content
    assert isinstance(idx._tombstones(), SideReader)
    live = _snapshot(idx)
    zot = sorted(tuple(r) for r in idx.score("zot").collect())
    assert {r[0] for r in zot} == {4, 11}
    for h in _every_handle(spark, idx_path):
        assert _snapshot(h) == live
        assert sorted(tuple(r) for r in h.score("zot").collect()) == zot

    compacted = compact_index(spark, idx_path, str(tmp_path / "compact"))
    assert _snapshot(compacted) == live
    assert sorted(tuple(r) for r in compacted.score("zot").collect()) == zot
