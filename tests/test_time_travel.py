"""Iceberg-style snapshot reads (time travel) over the mutation epochs.

Every delete_docs/update_docs call commits an integer epoch (the same
epoch model that drives tombstone/segment resolution at query time,
reference P8 semantics in /root/reference/searcharray/postings.py:360-425).
SearchIndex(..., as_of=E) serves the index exactly as it stood after
epoch E: match sets, tfs, doc lengths, corpus stats, and BM25 scores all
reconstruct the historical state; as_of=0 is the as-built snapshot.
Snapshot handles are read-only; compaction expires history (Iceberg
snapshot-expiry semantics).
"""
import numpy as np
import pytest

from searcharray_spark import SearchIndex, build_index

BASE = ["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 3


def tf_dense(idx, token, n=len(BASE)):
    out = np.zeros(n, dtype=np.int64)
    for r in idx.termfreqs(token).collect():
        out[r["doc_id"]] = int(r["tf"])
    return out


@pytest.fixture()
def mutated(spark, tmp_path):
    """Index with two committed epochs: delete {0, 2}, then update {1, 5}."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BASE)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    idx = build_index(spark, df, path, doc_id_col="doc_id", docs_per_block=4)
    idx.delete_docs([0, 2])                                   # epoch 1
    upd = spark.createDataFrame(
        [(1, "bar bar bar"), (5, "fresh foo")], "doc_id long, text string")
    idx.update_docs(upd)                                      # epoch 2
    return spark, path, idx


def test_asof_0_is_as_built(mutated):
    spark, path, _ = mutated
    snap = SearchIndex(spark, path, as_of=0)
    tf = tf_dense(snap, "bar")
    assert tf[0] == 2 and tf[2] == 1       # deletes not visible yet
    assert tf[1] == 0                      # update not visible yet
    assert snap.num_docs == len(BASE)
    lens = {r["doc_id"]: r["doc_len"] for r in snap.doclengths().collect()}
    assert len(lens) == len(BASE) and lens[1] == 1  # original "data2"


def test_asof_1_sees_delete_not_update(mutated):
    spark, path, _ = mutated
    snap = SearchIndex(spark, path, as_of=1)
    tf = tf_dense(snap, "bar")
    assert tf[0] == 0 and tf[2] == 0       # epoch-1 deletes applied
    assert tf[1] == 0                      # epoch-2 update NOT applied
    assert snap.num_docs == len(BASE) - 2
    # exact stats at the snapshot: patched == recount over live docs
    lens = [r["doc_len"] for r in snap.doclengths().collect()]
    assert len(lens) == snap.num_docs
    assert snap.total_tokens == float(sum(lens))


def test_asof_2_equals_live(mutated):
    spark, path, idx = mutated
    snap = SearchIndex(spark, path, as_of=2)
    for tok in ("bar", "foo", "data2", "fresh"):
        assert (tf_dense(snap, tok) == tf_dense(idx, tok)).all(), tok
    assert snap.num_docs == idx.num_docs
    assert snap.total_tokens == idx.total_tokens
    # beyond-newest epochs behave like the live state too
    far = SearchIndex(spark, path, as_of=99)
    assert (tf_dense(far, "bar") == tf_dense(idx, "bar")).all()


def test_asof_scoring_matches_historical_rebuild(mutated, tmp_path):
    """BM25 at as_of=1 must equal an index freshly built over the
    corpus as it stood after epoch 1 (docs 0,2 gone, no updates) —
    score-exact, not just match-set-exact."""
    spark, path, _ = mutated
    snap = SearchIndex(spark, path, as_of=1)
    hist_rows = [(i, t) for i, t in enumerate(BASE) if i not in (0, 2)]
    hist = build_index(
        spark, spark.createDataFrame(hist_rows, "doc_id long, text string"),
        str(tmp_path / "hist"), doc_id_col="doc_id", docs_per_block=4)
    want = {int(r["doc_id"]): float(r["score"])
            for r in hist.top_k("bar", k=20).collect()}
    got = {int(r["doc_id"]): float(r["score"])
           for r in snap.top_k("bar", k=20).collect()}
    assert got == want


def test_snapshot_handle_is_read_only(mutated):
    spark, path, _ = mutated
    snap = SearchIndex(spark, path, as_of=1)
    with pytest.raises(ValueError, match="read-only snapshot"):
        snap.delete_docs([4])
    upd = spark.createDataFrame([(4, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="read-only snapshot"):
        snap.update_docs(upd)
    with pytest.raises(ValueError):
        SearchIndex(spark, path, as_of=-1)


def test_history_lists_epochs(mutated):
    _, _, idx = mutated
    hist = idx.history()
    assert [h["epoch"] for h in hist] == [1, 2]
    assert [h["op"] for h in hist] == ["delete", "update"]
    assert hist[0]["delta_docs"] == -2
    assert hist[1]["delta_docs"] == 0  # in-place update keeps doc count


def test_snapshots_unaffected_by_later_mutations(mutated):
    """Open a snapshot, mutate the live index further, and the snapshot
    keeps serving the old state (reader isolation)."""
    spark, path, idx = mutated
    snap = SearchIndex(spark, path, as_of=2)
    before = tf_dense(snap, "bar")
    idx.delete_docs([4])                                      # epoch 3
    snap._invalidate_caches()  # even with caches dropped, epoch pin holds
    assert (tf_dense(snap, "bar") == before).all()
    assert tf_dense(SearchIndex(spark, path, as_of=3), "bar")[4] == 0


def test_compact_asof_exports_snapshot(mutated, tmp_path):
    """compact_index(as_of=1) materializes the epoch-1 state into a
    fresh index: identical tfs and corpus stats to the snapshot handle,
    no tombstones/updates in the output."""
    from searcharray_spark.merge import compact_index

    spark, path, _ = mutated
    out = compact_index(spark, path, str(tmp_path / "snap1"), as_of=1)
    snap = SearchIndex(spark, path, as_of=1)
    for tok in ("bar", "foo", "data2"):
        assert (tf_dense(out, tok) == tf_dense(snap, tok)).all(), tok
    assert out.num_docs == snap.num_docs
    assert out.history() == []  # epoch reset: exported snapshot is clean

