"""Index merge tests (disjoint and overlapping doc ranges, pending
maintenance) and the index memory report."""
import numpy as np
import pytest

from searcharray_spark import SearchIndex, build_index
from searcharray_spark.merge import merge_indexes

DOCS = [(i, f"w{i % 7} common w{i % 13} tail{i % 29}") for i in range(600)]


def test_merge_disjoint_indexes(spark, tmp_path):
    df_all = spark.createDataFrame(DOCS, "doc_id long, text string")
    clean = build_index(spark, df_all, str(tmp_path / "clean"),
                        doc_id_col="doc_id", docs_per_block=64)
    # two halves on disjoint doc ranges (blocks 0.. and 4..)
    a = build_index(spark, df_all.filter("doc_id < 256"), str(tmp_path / "a"),
                    doc_id_col="doc_id", docs_per_block=64)
    b = build_index(spark, df_all.filter("doc_id >= 256"), str(tmp_path / "b"),
                    doc_id_col="doc_id", docs_per_block=64)
    merged = merge_indexes(spark, [str(tmp_path / "a"), str(tmp_path / "b")],
                           str(tmp_path / "merged"))
    assert merged.num_docs == clean.num_docs
    assert abs(merged.avg_doc_len - clean.avg_doc_len) < 1e-9
    for tok in ("common", "w3", ["w1", "common"]):
        assert np.array_equal(merged.score_dense(tok), clean.score_dense(tok)), tok
    assert merged.docfreq("common") == clean.docfreq("common")


def test_merge_rejects_overlap(spark, tmp_path):
    df_all = spark.createDataFrame(DOCS[:200], "doc_id long, text string")
    build_index(spark, df_all, str(tmp_path / "x"), doc_id_col="doc_id",
                docs_per_block=64)
    build_index(spark, df_all, str(tmp_path / "y"), doc_id_col="doc_id",
                docs_per_block=64)
    with pytest.raises(Exception, match="overlapping"):
        merge_indexes(spark, [str(tmp_path / "x"), str(tmp_path / "y")],
                      str(tmp_path / "z"))


def test_memory_report(spark, tmp_path):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "mr"), doc_id_col="doc_id",
                      docs_per_block=128)
    rep = idx.memory_report(top_n=3)
    assert rep["num_docs"] == 600
    assert rep["total_bytes"] > 0
    assert rep["tables"]["postings"] > 0
    assert rep["top_terms"][0][0] == "common"  # most posting bytes


def test_overlapping_merge_unions_positions(spark, tmp_path):
    """B5: merging indexes sharing doc ids unions each doc's positions
    (reference PosnBitArray.merge) — tf and phrase results are exact."""
    from searcharray_spark.merge import merge_indexes
    import numpy as np

    # same doc ids; doc 0's content split across two indexes by position
    a = spark.createDataFrame([(0, "foo bar"), (1, "data2")],
                              "doc_id long, text string")
    # second index re-tokenizes doc 0 with a later span: emulate via text
    # whose tokens sit at positions 2,3 (prefix padding with the same
    # tokens positions 0,1 would collide; instead give different terms)
    b = spark.createDataFrame([(0, "foo bar baz quux"), (1, "data2")],
                              "doc_id long, text string")
    ia = build_index(spark, a, str(tmp_path / "a"), doc_id_col="doc_id",
                     docs_per_block=4)
    ib = build_index(spark, b, str(tmp_path / "b"), doc_id_col="doc_id",
                     docs_per_block=4)
    with pytest.raises(Exception, match="overlapping doc ids"):
        merge_indexes(spark, [ia.path, ib.path], str(tmp_path / "no"))
    m = merge_indexes(spark, [ia.path, ib.path], str(tmp_path / "m"),
                      allow_overlap=True)
    assert m.num_docs == 2
    tf = np.zeros(2, dtype=np.int64)
    for r in m.termfreqs("foo").collect():
        tf[r["doc_id"]] = int(r["tf"])
    assert tf.tolist() == [1, 0]  # same posn in both inputs: unioned, not doubled
    pf = {r["doc_id"]: int(r["tf"]) for r in m.termfreqs(["bar", "baz"]).collect()}
    assert pf == {0: 1}  # phrase spanning content from input b
    dl = {r["doc_id"]: r["doc_len"] for r in m.doclengths().collect()}
    assert dl[0] == 4.0  # max across inputs


def test_merge_rejects_pending_maintenance(spark, tmp_path):
    """merge_indexes unions BASE tables only; an input with pending
    tombstones/update segments must be rejected (compact first), not
    silently resurrect deleted docs."""
    import pytest as _pytest

    from searcharray_spark import build_index
    from searcharray_spark.merge import merge_indexes

    a = build_index(spark, spark.createDataFrame(
        [(0, "foo bar"), (1, "baz")], "doc_id long, text string"),
        str(tmp_path / "a"), doc_id_col="doc_id", docs_per_block=4)
    build_index(spark, spark.createDataFrame(
        [(4, "qux")], "doc_id long, text string"),
        str(tmp_path / "b"), doc_id_col="doc_id", docs_per_block=4)
    a.delete_docs([0])
    with _pytest.raises(ValueError, match="pending tombstones"):
        merge_indexes(spark, [str(tmp_path / "a"), str(tmp_path / "b")],
                      str(tmp_path / "m"))


def test_overlapping_merge_exact_stats(spark, tmp_path):
    """Round 4: allow_overlap merges recount df/tf_total per (term,
    block) from the merged posting arrays, so stats (and therefore BM25
    scores) equal a fresh build of the unioned content — the old
    double-count caveat is gone."""
    from searcharray_spark.merge import merge_indexes
    import numpy as np

    a = spark.createDataFrame([(0, "foo bar"), (1, "data2 foo")],
                              "doc_id long, text string")
    b = spark.createDataFrame([(0, "foo bar baz quux"), (1, "data2 foo")],
                              "doc_id long, text string")
    ia = build_index(spark, a, str(tmp_path / "ea"), doc_id_col="doc_id",
                     docs_per_block=4)
    ib = build_index(spark, b, str(tmp_path / "eb"), doc_id_col="doc_id",
                     docs_per_block=4)
    m = merge_indexes(spark, [ia.path, ib.path], str(tmp_path / "em"),
                      allow_overlap=True)
    # union of content: doc0 = b's superset, doc1 identical in both
    fresh = build_index(spark, b, str(tmp_path / "ef"), doc_id_col="doc_id",
                        docs_per_block=4)
    assert m.num_docs == fresh.num_docs
    assert m.avg_doc_len == fresh.avg_doc_len
    for t in ["foo", "bar", "baz", "data2"]:
        assert m.docfreq(t) == fresh.docfreq(t), t  # exact, not doubled
    for tok in ["foo", ["bar", "baz"]]:
        assert np.array_equal(m.score_dense(tok), fresh.score_dense(tok)), tok
