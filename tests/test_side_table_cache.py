"""Process-wide side-table file caches across a rebuild at the same path.

The driver and reused Python workers keep decoded doclens and
tombstone files in one process-wide cache. Builds reuse file names
(``part-00000.parquet``), so the caches key each file by its path plus
the (size, mtime) stamp from the listing: a handle opened after a
rebuild at the same path must read the new files, never the decoded
contents of the old ones.
"""
import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark.index import SearchIndex

N_DOCS = 64


def _corpus(spark, per_doc):
    # doc i holds ``per_doc * (i + 1)`` tokens, "foo" among them
    rows = [(i, " ".join(["foo"] + ["pad"] * (per_doc * (i + 1) - 1)))
            for i in range(N_DOCS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _distributed(spark, path):
    idx = SearchIndex(spark, path)
    # executors read the doclens files
    idx.LOCAL_QUERY_MAX_BYTES = idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    return idx


@pytest.fixture()
def rebuilt(spark, tmp_path):
    """(index rebuilt over an old one at the same path, clean build of
    the same corpus at another path). The old index is read first by
    distributed queries and by ``_live_lens``, so its doclens files sit
    in the workers' and the driver's caches."""
    path = str(tmp_path / "same")
    build_index(spark, _corpus(spark, 2), path, doc_id_col="doc_id",
                docs_per_block=16)
    old = _distributed(spark, path)
    for _ in range(4):
        old.score_dense("foo")
    old._live_lens(np.arange(N_DOCS))
    build_index(spark, _corpus(spark, 4), path, doc_id_col="doc_id",
                docs_per_block=16)
    clean = str(tmp_path / "clean")
    build_index(spark, _corpus(spark, 4), clean, doc_id_col="doc_id",
                docs_per_block=16)
    return path, clean


def test_rebuild_reads_new_doclens(spark, rebuilt):
    path, clean = rebuilt
    re, fresh = _distributed(spark, path), _distributed(spark, clean)
    ids = np.arange(8)
    live, lens = re._live_lens(ids)
    assert live.all()
    assert lens.tolist() == fresh._live_lens(ids)[1].tolist() \
        == [4.0 * (i + 1) for i in ids]
    want = fresh.score_dense("foo")
    for _ in range(4):  # every reused worker, not just the first task's
        assert np.array_equal(re.score_dense("foo"), want)


def test_rebuild_then_delete_patches_new_stats(spark, rebuilt):
    path, clean = rebuilt
    re, fresh = _distributed(spark, path), _distributed(spark, clean)
    for idx in (re, fresh):
        idx.delete_docs([0, 5, 17])
    assert re.num_docs == fresh.num_docs == N_DOCS - 3
    assert re.total_tokens == fresh.total_tokens
    assert re.avg_doc_len == fresh.avg_doc_len
    want = fresh.score_dense("foo")
    for _ in range(4):
        assert np.array_equal(re.score_dense("foo"), want)
