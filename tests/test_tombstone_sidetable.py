"""Mass-delete tombstone side table (TombstoneReader).

Above TOMBSTONE_DRIVER_MAX_ROWS the tombstone set must leave the driver:
packed into a block-range-partitioned parquet side table that kernels
side-input-read per block (DoclensReader pattern). Results must be
IDENTICAL to the driver-dict mode through every path (queries, df
corrections, positions, compaction), across handle reopens and repacks.
"""
import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark.index import SearchIndex, TombstoneReader

DOCS = ["foo bar bar baz", "data2 foo", "data3 bar baz qux",
        "bunny funny wunny", "foo baz foo bar baz", "qux qux bar"] * 50


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


def test_sidetable_matches_dict_mode(spark, idx_path, monkeypatch):
    dead = list(range(0, 300, 10)) + list(range(7, 200, 3))

    # dict mode (default cap): ground truth
    ref = SearchIndex(spark, idx_path)
    ref.delete_docs(dead)
    assert isinstance(ref._tombstones(), dict)
    want = _snapshot(ref)

    # side-table mode: same tombstone log, tiny cap forces the reader
    monkeypatch.setattr(SearchIndex, "TOMBSTONE_DRIVER_MAX_ROWS", 10)
    idx = SearchIndex(spark, idx_path)
    tomb = idx._tombstones()
    assert isinstance(tomb, TombstoneReader) and bool(tomb)
    assert _snapshot(idx) == want

    # distributed path too (executor-side reader get)
    dist = SearchIndex(spark, idx_path)
    dist.LOCAL_QUERY_MAX_BYTES = dist.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    assert isinstance(dist._tombstones(), TombstoneReader)
    assert _snapshot(dist) == want


def test_sidetable_repacks_on_new_deletes(spark, idx_path, monkeypatch):
    monkeypatch.setattr(SearchIndex, "TOMBSTONE_DRIVER_MAX_ROWS", 5)
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(range(0, 60))
    assert isinstance(idx._tombstones(), TombstoneReader)
    assert idx._tombstones().get(0) is not None
    before = sorted(tuple(r) for r in idx.score("bar").collect())
    # second wave: the packed table is stale and must rebuild
    idx.delete_docs(range(60, 120))
    after = sorted(tuple(r) for r in idx.score("bar").collect())
    assert {r[0] for r in after} & set(range(60, 120)) == set()
    assert len(after) < len(before)
    # reopened handle sees the same state
    re = SearchIndex(spark, idx_path)
    assert sorted(tuple(r) for r in re.score("bar").collect()) == after


def test_sidetable_update_and_compact(spark, idx_path, tmp_path, monkeypatch):
    from searcharray_spark.merge import compact_index

    monkeypatch.setattr(SearchIndex, "TOMBSTONE_DRIVER_MAX_ROWS", 5)
    idx = SearchIndex(spark, idx_path)
    idx.delete_docs(range(0, 90, 2))
    upd = spark.createDataFrame(
        [(4, "zot zot bar"), (11, "foo zot")], "doc_id long, text string")
    idx.update_docs(upd)  # resurrects 4 with new content
    assert isinstance(idx._tombstones(), TombstoneReader)
    live = _snapshot(idx)
    zot = sorted(tuple(r) for r in idx.score("zot").collect())
    assert {r[0] for r in zot} == {4, 11}

    compacted = compact_index(spark, idx_path, str(tmp_path / "compact"))
    assert _snapshot(compacted) == live
    assert sorted(tuple(r) for r in compacted.score("zot").collect()) == zot
