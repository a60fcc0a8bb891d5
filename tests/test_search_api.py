"""End-to-end Spark index + query tests on the canonical reference corpus.

Golden expectations ported from /root/reference/test/test_search.py and
test_similarity.py (FIXTURES.md F3/F6).
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from searcharray_spark import build_index, bm25_similarity
from searcharray_spark.similarity import (
    bm25_impact, bm25_legacy_similarity, compute_idf,
)

CANONICAL = ["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 25


@pytest.fixture(scope="module")
def canonical_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("canonical") / "idx")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CANONICAL)], "doc_id long, text string")
    return build_index(spark, df, path, doc_id_col="doc_id",
                       docs_per_block=64)  # small blocks: multi-block coverage


def test_termfreqs(canonical_index):
    tf = canonical_index.termfreqs_dense("bar")
    assert tf.tolist() == [2, 0, 1, 0] * 25


def test_match_missing_term(canonical_index):
    tf = canonical_index.termfreqs_dense("not_present")
    assert tf.sum() == 0


def test_docfreq(canonical_index):
    assert canonical_index.docfreq("bar") == 50
    assert canonical_index.docfreq("foo") == 25
    assert canonical_index.docfreq("nope") == 0


def test_doclengths(canonical_index):
    dl = canonical_index.doclengths_dense()
    assert dl.tolist() == [4, 1, 2, 3] * 25
    assert canonical_index.avg_doc_length == 2.5
    assert canonical_index.num_docs == 100


def test_default_score_matches_lucene(canonical_index):
    """Reference test_search.py:121-124 golden values."""
    scores = canonical_index.score_dense("bar")
    assert np.isclose(scores, [0.37066694, 0.0, 0.34314217, 0.0] * 25).all()


def test_custom_similarity_differs(canonical_index):
    base = canonical_index.score_dense("bar")
    custom = canonical_index.score_dense("bar", similarity=bm25_similarity(k1=10, b=0.01))
    assert not np.isclose(base[base > 0], custom[custom > 0]).any()


def test_phrase_score(canonical_index):
    tf = canonical_index.termfreqs_dense(["foo", "bar"])
    assert tf.tolist() == [1, 0, 0, 0] * 25
    scores = canonical_index.score_dense(["foo", "bar"])
    assert (scores[0::4] > 0).all()
    assert (scores[1::4] == 0).all()


def test_phrase_missing_term(canonical_index):
    assert canonical_index.score_dense(["term_does", "not_exist"]).sum() == 0


def test_and_or_mm(canonical_index):
    and_docs = canonical_index.search_and(["foo", "bar"]).select("doc_id").collect()
    assert sorted(r["doc_id"] % 4 for r in and_docs) == [0] * 25
    or_docs = canonical_index.search_or(["foo", "bar"], mm=1).collect()
    assert sorted({r["doc_id"] % 4 for r in or_docs}) == [0, 2]
    none = canonical_index.search_and(["foo", "data2"]).collect()
    assert none == []


def test_top_k(canonical_index):
    top = canonical_index.top_k("bar", k=10).collect()
    assert len(top) == 10
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)
    # doc_id tiebreak: first docs are the doc%4==0 ones (higher score)
    assert [r["doc_id"] for r in top[:3]] == [0, 4, 8]


def test_positions(canonical_index):
    rows = {r["doc_id"]: r["posns"] for r in canonical_index.positions("bar").collect()}
    assert rows[0] == [1, 2]
    assert rows[2] == [1]
    assert 1 not in rows


def test_empty_docs(spark, tmp_path):
    df = spark.createDataFrame([(i, "") for i in range(100)], "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "empty"), doc_id_col="doc_id")
    assert idx.score("foo").count() == 0
    assert idx.num_docs == 100
    assert idx.avg_doc_length == 0.0


GOLDEN_BM25 = [
    # (tf, df, dl, avgdl, N, expected) — reference test_similarity.py:16-49
    (2, 14, 4, 2.7322686, 8516, 3.52482),
    (1, 5, 35, 50.580456, 8514, 3.8199246),
    (2, 7, 44, 50.580456, 8514, 4.5636616),
    (25, 7823, 152, 119.18542, 8516, 0.08028283),
]


@pytest.mark.parametrize("tf,df,dl,avgdl,n,expected", GOLDEN_BM25)
def test_bm25_golden(tf, df, dl, avgdl, n, expected):
    sim = bm25_similarity()
    got = sim(np.array([tf], dtype=np.float32), np.array([df], dtype=np.float32),
              np.array([dl], dtype=np.float32), avgdl, n)
    assert np.isclose(got, expected).all(), got


@pytest.mark.parametrize("tf,df,dl,avgdl,n,expected", GOLDEN_BM25)
def test_bm25_impact_consistent(tf, df, dl, avgdl, n, expected):
    sim = bm25_similarity()(np.array([tf], np.float32), np.array([df], np.float32),
                            np.array([dl], np.float32), avgdl, n)
    imp = bm25_impact()(np.array([tf], np.float32), np.array([df], np.float32),
                        np.array([dl], np.float32), avgdl, n)
    idf = compute_idf(n, np.array([df], np.float32))
    assert np.isclose(imp * idf, sim).all()


def test_partitioning_independence(spark, tmp_path):
    """Spark analogue of batch-size independence (reference
    test_tmdb.py:156-164): different block sizes -> identical results."""
    docs = [(i, t) for i, t in enumerate(CANONICAL)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx_a = build_index(spark, df, str(tmp_path / "a"), doc_id_col="doc_id",
                        docs_per_block=16)
    idx_b = build_index(spark, df, str(tmp_path / "b"), doc_id_col="doc_id",
                        docs_per_block=1024)
    for token in ("bar", ["foo", "bar"]):
        sa = idx_a.score_dense(token)
        sb = idx_b.score_dense(token)
        assert np.array_equal(sa, sb)


def test_assign_doc_ids(spark):
    from searcharray_spark import assign_doc_ids
    df = spark.createDataFrame([(f"url{i:04d}", f"text {i}") for i in range(500)],
                               "url string, text string").repartition(7)
    out = assign_doc_ids(df, "url").orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == list(range(500))
    assert [r["url"] for r in out] == [f"url{i:04d}" for i in range(500)]


def test_filtered_corpus_scoring(canonical_index, spark):
    """candidates= must equal scoring everything then filtering, with
    corpus-global idf/avgdl (reference P2 row-subset view semantics)."""
    keep = [i for i in range(100) if i % 3 == 0]
    cand = spark.createDataFrame([(i,) for i in keep], "doc_id long")
    full = {r["doc_id"]: r["score"]
            for r in canonical_index.score("bar").collect()}
    filt = {r["doc_id"]: r["score"]
            for r in canonical_index.score("bar", candidates=cand).collect()}
    assert set(filt) == {d for d in full if d in set(keep)}
    for d, s in filt.items():
        assert s == full[d], d
    # phrase path too
    pf = {r["doc_id"]: r["tf"]
          for r in canonical_index.termfreqs(["foo", "bar"], candidates=cand).collect()}
    assert set(pf) == {i for i in keep if i % 4 == 0}
    assert all(v == 1 for v in pf.values())


def test_positions_doc_filter(canonical_index):
    rows = canonical_index.positions("bar", doc_ids=[0, 2, 64]).collect()
    got = {r["doc_id"]: list(r["posns"]) for r in rows}
    assert got == {0: [1, 2], 2: [1], 64: [1, 2]}


def test_pretokenized_build_matches_text_build(spark, tmp_path, canonical_index):
    df = spark.createDataFrame(
        [(i, t.split()) for i, t in enumerate(CANONICAL)],
        "doc_id long, tokens array<string>")
    idx = build_index(spark, df, str(tmp_path / "pretok"), tokens_col="tokens",
                      doc_id_col="doc_id", docs_per_block=64)
    assert np.array_equal(idx.termfreqs_dense("bar"),
                          canonical_index.termfreqs_dense("bar"))
    assert np.array_equal(idx.score_dense("bar"),
                          canonical_index.score_dense("bar"))
    assert np.array_equal(idx.termfreqs_dense(["foo", "bar"]),
                          canonical_index.termfreqs_dense(["foo", "bar"]))
    assert idx.avg_doc_len == canonical_index.avg_doc_len


def test_classic_similarity_golden(canonical_index):
    """SC5 classic TF-IDF (reference similarity.py:74-89): dfs summed
    across query terms, idf = ln((N+1)/(sum_dfs+1)) + 1, sqrt(tf),
    1/sqrt(dl). Golden: N=100, df(bar)=50 -> idf=1.6833; doc0 tf=2 dl=4
    and doc2 tf=1 dl=2 both land on 1.1902692 (sqrt(2)/2 == 1/sqrt(2))."""
    scores = canonical_index.score_dense("bar", similarity="classic")
    assert np.isclose(scores, [1.1902692, 0.0, 1.1902692, 0.0] * 25).all()


def test_custom_similarity_pruned_topk_rank_identical(canonical_index,
                                                     monkeypatch):
    """A custom similarity WITHOUT the monotone_bounds flag must not be
    pruned with default-BM25 bounds (they'd be unsound for k1=10): the
    exhaustive fallback path must produce ranks identical to score()."""
    custom = bm25_similarity(k1=10, b=0.01)
    del custom.monotone_bounds  # simulate an unknown user callable
    exhaustive = canonical_index.score_many([["bar"], ["foo"]],
                                            similarity=custom) \
        .groupBy("doc_id").agg(F.sum("score").alias("score")) \
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(5).collect()
    bounds_calls = []
    monkeypatch.setattr(canonical_index, "_block_bounds",
                        lambda *a, **kw: bounds_calls.append(a))
    got = canonical_index.top_k_pruned(["bar", "foo"], k=5,
                                       similarity=custom).collect()
    assert bounds_calls == []  # pruning did NOT run
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exhaustive]
    assert np.allclose([r["score"] for r in got],
                       [r["score"] for r in exhaustive])


def test_flagged_custom_similarity_is_pruned(canonical_index, monkeypatch):
    """A custom similarity CARRYING monotone_bounds=True gets real WAND
    pruning with bounds computed from ITSELF (not default BM25) and stays
    rank-identical."""
    custom = bm25_similarity(k1=10, b=0.01)  # factory sets the flag
    assert custom.monotone_bounds
    exhaustive = canonical_index.score_many([["bar"], ["foo"]],
                                            similarity=custom) \
        .groupBy("doc_id").agg(F.sum("score").alias("score")) \
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(5).collect()
    # pin the distributed route through the handle's local caps
    monkeypatch.setattr(canonical_index, "LOCAL_QUERY_MAX_BYTES", 0)
    monkeypatch.setattr(canonical_index, "LOCAL_QUERY_EXTENDED_MAX_BYTES", 0)
    real = canonical_index._block_bounds
    bounds_calls = []

    def recording(tokens, sim_fn, **kw):
        bounds_calls.append(sim_fn)
        return real(tokens, sim_fn, **kw)

    monkeypatch.setattr(canonical_index, "_block_bounds", recording)
    got = canonical_index.top_k_pruned(["bar", "foo"], k=5,
                                       similarity=custom).collect()
    assert bounds_calls == [custom]  # pruning ran, with ITS bounds
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exhaustive]
