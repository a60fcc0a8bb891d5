"""Delete / in-place update (tombstones + update segments) + compaction.

Semantics mirror the reference's __setitem__ / delete behavior
(/root/reference/searcharray/postings.py:360-425, test_update_rows.py):
updated docs keep their ids and immediately reflect the new content;
deleted docs stop matching. Corpus stats (num_docs, avg_doc_len) and
per-term df are patched EXACTLY after each op (the epoch's stats_log
record + lazy df corrections), so live scores equal a compacted index's.
"""
import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark.merge import compact_index

BASE = ["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 3


@pytest.fixture()
def idx(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BASE)], "doc_id long, text string")
    return build_index(spark, df, str(tmp_path / "idx"), doc_id_col="doc_id",
                       docs_per_block=4)


def tf_dense(idx, token, n=len(BASE)):
    out = np.zeros(n, dtype=np.int64)
    for r in idx.termfreqs(token).collect():
        out[r["doc_id"]] = int(r["tf"])
    return out


def test_delete_docs(idx):
    assert tf_dense(idx, "bar")[0] == 2
    idx.delete_docs([0, 2])
    tf = tf_dense(idx, "bar")
    assert tf[0] == 0 and tf[2] == 0
    assert tf[4] == 2 and tf[6] == 1  # other docs untouched
    # phrase path honors tombstones too
    pf = tf_dense(idx, ["foo", "bar"])
    assert pf[0] == 0 and pf[4] == 1


def test_update_docs_in_place(idx, spark):
    upd = spark.createDataFrame(
        [(2, "bar bar bar fresh")], "doc_id long, text string")
    idx.update_docs(upd)
    tf = tf_dense(idx, "bar")
    assert tf[2] == 3  # new content, same doc id
    assert tf_dense(idx, "data3")[2] == 0  # old content gone
    assert tf_dense(idx, "fresh")[2] == 1  # new term matches (df exact: 1)
    # doc length patched: 4 tokens
    dl = {r["doc_id"]: r["doc_len"] for r in idx.doclengths().collect()}
    assert dl[2] == 4.0


def test_delete_then_readd_resurrects(idx, spark):
    idx.delete_docs([1])
    assert tf_dense(idx, "data2")[1] == 0
    idx.update_docs(spark.createDataFrame(
        [(1, "data2 returned")], "doc_id long, text string"))
    assert tf_dense(idx, "data2")[1] == 1
    assert tf_dense(idx, "returned")[1] == 1


def test_update_then_delete_wins(idx, spark):
    idx.update_docs(spark.createDataFrame(
        [(3, "replacement bar")], "doc_id long, text string"))
    assert tf_dense(idx, "bar")[3] == 1
    idx.delete_docs([3])
    assert tf_dense(idx, "bar")[3] == 0
    assert tf_dense(idx, "replacement")[3] == 0


def test_compact_matches_fresh_build(idx, spark, tmp_path):
    idx.delete_docs([1])
    idx.update_docs(spark.createDataFrame(
        [(2, "bar bar compacted")], "doc_id long, text string"))
    live_tf = tf_dense(idx, "bar")

    compacted = compact_index(spark, idx.path, str(tmp_path / "compacted"))
    assert np.array_equal(tf_dense(compacted, "bar"), live_tf)
    assert compacted.num_docs == len(BASE) - 1
    # stats recomputed exactly: equal to an index freshly built from the
    # final corpus state (deleted doc 1 absent, doc 2 replaced)
    final = [(i, t) for i, t in enumerate(BASE) if i != 1]
    final = [(i, "bar bar compacted") if i == 2 else (i, t) for i, t in final]
    fresh = build_index(spark, spark.createDataFrame(final, "doc_id long, text string"),
                        str(tmp_path / "fresh"), doc_id_col="doc_id",
                        docs_per_block=4)
    assert compacted.avg_doc_len == pytest.approx(fresh.avg_doc_len)
    assert compacted.docfreq("bar") == fresh.docfreq("bar")
    assert np.array_equal(compacted.score_dense("bar"), fresh.score_dense("bar"))
    assert np.array_equal(compacted.termfreqs_dense(["foo", "bar"]),
                          fresh.termfreqs_dense(["foo", "bar"]))


def test_incremental_stats_exact_after_update(idx, spark, tmp_path):
    """df / avgdl / num_docs are patched EXACTLY after delete/update
    (lazy per-term df corrections + stats_log records), so BM25 scores on
    the live index equal a compacted index's — no idf staleness window
    (ROADMAP #3 closed)."""
    idx.delete_docs([1])
    idx.update_docs(spark.createDataFrame(
        [(2, "bar bar fresh fresh"), (5, "foo bar")],
        "doc_id long, text string"))

    compacted = compact_index(spark, idx.path, str(tmp_path / "cmp"))
    assert idx.num_docs == compacted.num_docs
    assert idx.avg_doc_len == pytest.approx(compacted.avg_doc_len)
    # df exact for every touched class: shrunk (data2 deleted), grown
    # (fresh added twice in one doc, foo added), replaced (bar)
    for t in ["bar", "foo", "baz", "data2", "data3", "fresh", "bunny"]:
        assert idx.docfreq(t) == compacted.docfreq(t), t
    # scores identical on live vs compacted — term, phrase, and top-k
    for tok in ["bar", "fresh", ["foo", "bar"]]:
        live = {r["doc_id"]: r["score"] for r in idx.score(tok).collect()}
        cmp_ = {r["doc_id"]: r["score"]
                for r in compacted.score(tok).collect()}
        assert live == cmp_, tok
    # a REOPENED handle sees the patched stats (meta + stats_log)
    from searcharray_spark.index import SearchIndex
    re_idx = SearchIndex(spark, idx.path)
    assert re_idx.num_docs == idx.num_docs
    assert re_idx.avg_doc_len == idx.avg_doc_len
    assert re_idx.docfreq("bar") == idx.docfreq("bar")


def test_incremental_stats_delete_only(idx):
    """Pure deletes (no update segment) patch stats exactly too, and
    repeated deletes of the same doc don't double-subtract."""
    n0, t0 = idx.num_docs, idx.total_tokens
    idx.delete_docs([0])          # "foo bar bar baz" = 4 tokens
    assert idx.num_docs == n0 - 1
    assert idx.total_tokens == pytest.approx(t0 - 4.0)
    idx.delete_docs([0])          # already dead: no-op on stats
    assert idx.num_docs == n0 - 1
    assert idx.total_tokens == pytest.approx(t0 - 4.0)
    assert idx.docfreq("bar") == 5   # was 6 (docs 0,2,4,6,8,10); 0 dead
    assert idx.docfreq("foo") == 2   # was 3 (docs 0,4,8); 0 dead


def test_side_input_doclens_with_update_segments(idx, spark, tmp_path):
    """The doclens side-input reader (SideReader) patches update-segment
    doc lengths by seg priority the same on the driver-local route and
    inside distributed tasks: scores bit-identical on an index carrying
    deletes + updates."""
    upd = spark.createDataFrame(
        [(1, "bar bar bar bar bar"), (5, "foo")], "doc_id long, text string")
    idx.update_docs(upd)
    idx.delete_docs([2])

    from searcharray_spark.index import SearchIndex
    local_scores = {r["doc_id"]: r["score"]
                    for r in idx.score("bar").collect()}
    side = SearchIndex(spark, idx.path)
    # executors read the doclens files
    side.LOCAL_QUERY_MAX_BYTES = side.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    side_scores = {r["doc_id"]: r["score"]
                   for r in side.score("bar").collect()}
    assert local_scores == side_scores
    assert local_scores[1] > 0      # updated doc matches new content
    assert 2 not in local_scores    # deleted doc gone
    # phrase query down the distributed route too
    bp = {r["doc_id"]: r["tf"] for r in idx.termfreqs(["foo", "bar"]).collect()}
    sp = {r["doc_id"]: r["tf"] for r in side.termfreqs(["foo", "bar"]).collect()}
    assert bp == sp


def test_doclengths_exclude_deleted(idx, spark):
    """doclengths()/docstats must drop deleted docs (a deleted row is
    gone from every view, reference delete semantics) while keeping
    updated docs with their new lengths."""
    idx.delete_docs([0, 5])
    idx.update_docs(spark.createDataFrame(
        [(1, "longer than before now")], "doc_id long, text string"))
    dl = {r["doc_id"]: r["doc_len"] for r in idx.doclengths().collect()}
    assert 0 not in dl and 5 not in dl
    assert dl[1] == 4.0                      # updated length
    assert len(dl) == len(BASE) - 2
    # delete-then-readd resurrects in doclengths too
    idx.update_docs(spark.createDataFrame(
        [(5, "back again")], "doc_id long, text string"))
    dl2 = {r["doc_id"]: r["doc_len"] for r in idx.doclengths().collect()}
    assert dl2[5] == 2.0


def test_positions_honor_tombstones(idx, spark):
    """positions() must not decode deleted or replaced content."""
    before = {r["doc_id"]: list(r["posns"])
              for r in idx.positions("bar").collect()}
    assert 0 in before and 2 in before
    idx.delete_docs([0])
    idx.update_docs(spark.createDataFrame(
        [(2, "nothing here")], "doc_id long, text string"))
    after = {r["doc_id"]: list(r["posns"])
             for r in idx.positions("bar").collect()}
    assert 0 not in after          # deleted
    assert 2 not in after          # replaced content has no "bar"
    assert after[4] == before[4]   # untouched docs identical
    # replacement content decodes at its new positions
    here = {r["doc_id"]: list(r["posns"])
            for r in idx.positions("here").collect()}
    assert here == {2: [1]}
