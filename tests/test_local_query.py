"""Driver-local small-query route (SearchIndex._scan).

Small indexes (<= LOCAL_QUERY_MAX_DOCS docs and <= LOCAL_QUERY_MAX_BYTES
of postings) score driver-side with the SAME query_kernel functions
— zero Spark jobs per query — but must return bit-identical
results to the distributed scan path through every public entry point,
including after deletes/updates (tombstones, update segments, lazy df
corrections all have driver-local mirrors).
"""
import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark.index import SearchIndex

DOCS = (["foo bar bar baz", "data2 foo", "data3 bar baz qux",
         "bunny funny wunny", "foo baz foo bar baz", "qux qux bar"] * 17)


@pytest.fixture()
def idx_path(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=16)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run_all(idx):
    out = {}
    out["score"] = _rows(idx.score("bar"))
    out["tf_phrase"] = _rows(idx.termfreqs(["foo", "bar"]))
    out["slop"] = _rows(idx.termfreqs(["foo", "baz"], slop=1))
    out["window"] = _rows(idx.termfreqs(["bar"], min_posn=0, max_posn=17))
    out["many"] = _rows(idx.score_many([["foo"], ["bar", "baz"]]))
    out["or"] = _rows(idx.search_or(["foo", "bar", "qux"], mm=2))
    out["topk"] = _rows(idx.top_k("bar", k=5))
    out["topk_slop"] = _rows(idx.top_k(["foo", "baz"], k=5, slop=1))
    out["wand"] = _rows(idx.top_k_pruned(["foo", "bar"], k=5))
    out["many_topk"] = _rows(idx.top_k_many([["foo"], ["bar", "baz"]], k=3))
    out["pos"] = sorted((r["doc_id"], tuple(r["posns"]))
                        for r in idx.positions("bar").collect())
    out["pos_sub"] = sorted((r["doc_id"], tuple(r["posns"]))
                            for r in idx.positions(
                                "bar", doc_ids=[0, 2, 33]).collect())
    out["df"] = idx.docfreqs(["foo", "bar", "qux", "nope"])
    out["doc_tfs"] = _rows(idx.doc_termfreqs())
    out["doc_tfs_sub"] = _rows(idx.doc_termfreqs([2, 3, 41, 90]))
    out["doc"] = [_terms(idx.doc(i)) for i in (2, 3, 41)]
    out["take"] = [_terms(t) for t in idx.take([0, 3, -1, 41, 5, 101],
                                                 allow_fill=True)]
    return out


def _terms(t):
    """A Terms row as a comparable value: tfs, doc_len and positions."""
    return (sorted(t.postings.items()), t.doc_len,
            sorted((k, tuple(v)) for k, v in t.positions()))


def _spark_path_index(spark, path, monkeypatch):
    monkeypatch.setattr(SearchIndex, "LOCAL_QUERY_MAX_DOCS", -1)
    idx = SearchIndex(spark, path)
    assert idx._local_query_ok() is False
    return idx


def test_local_equals_spark_clean(spark, idx_path, monkeypatch):
    local = SearchIndex(spark, idx_path)
    assert local._local_query_ok() is True
    got = _run_all(local)
    dist = _spark_path_index(spark, idx_path, monkeypatch)
    want = _run_all(dist)
    for k in want:
        assert got[k] == want[k], k


def test_local_plan_is_local_relation(spark, idx_path):
    idx = SearchIndex(spark, idx_path)
    plan = idx.score("bar")._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan parquet" not in plan


def test_local_equals_spark_after_maintenance(spark, idx_path, monkeypatch):
    # mutate through one handle: deletes + updates (new segment)
    m = SearchIndex(spark, idx_path)
    m.delete_docs([0, 5, 16, 17, 90])
    upd = spark.createDataFrame(
        [(3, "bar bar zot"), (41, "foo zot zot bar")],
        "doc_id long, text string")
    m.update_docs(upd)

    local = SearchIndex(spark, idx_path)
    assert local._local_query_ok() is True
    got = _run_all(local)
    got["zot"] = _rows(local.score("zot"))
    dist = _spark_path_index(spark, idx_path, monkeypatch)
    want = _run_all(dist)
    want["zot"] = _rows(dist.score("zot"))
    for k in want:
        assert got[k] == want[k], k
    # df corrections applied identically (deleted docs leave df)
    assert local.docfreq("bunny") == dist.docfreq("bunny")


def test_candidates_still_use_spark_path(spark, idx_path):
    idx = SearchIndex(spark, idx_path)
    cand = idx.spark.createDataFrame([(0,), (4,), (33,)], "doc_id long")
    rows = _rows(idx.score("bar", candidates=cand))
    ids = {r[0] for r in rows}
    assert ids <= {0, 4, 33}
    # and result values match the unfiltered scores of those docs
    full = {r[0]: r[1] for r in idx.score("bar").collect()}
    for d, s in rows:
        assert s == full[d]


def test_shape_aware_local_gate(spark, tmp_path):
    """Between the strict and extended byte caps, term/phrase/OR queries
    take the driver-local path while slop goes distributed — and both
    return identical results."""
    import searcharray_spark as sa
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} gamma w{i % 5}") for i in range(3000)],
        "doc_id long, text string")
    idx = sa.build_index(spark, docs, str(tmp_path / "gate_idx"),
                         doc_id_col="doc_id", docs_per_block=256)
    # force the index "between the caps"
    idx.LOCAL_QUERY_MAX_BYTES = 0
    idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 1 << 30
    assert idx._local_query_ok(extended=True)
    assert not idx._local_query_ok()
    # non-slop: local (no jobs); slop: distributed. top_k is eager and
    # driver-held on both routes, so the route shows in the job count
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    t, t_jobs = jobs("gate-term", lambda: idx.top_k("alpha", k=5))
    assert t_jobs == 0
    s, s_jobs = jobs("gate-slop",
                     lambda: idx.top_k(["alpha", "beta"], k=5, slop=1))
    assert s_jobs >= 1
    # results identical to an all-local handle
    idx2 = sa.SearchIndex(spark, str(tmp_path / "gate_idx"))
    assert sorted(map(tuple, s.collect())) == \
        sorted(map(tuple, idx2.top_k(["alpha", "beta"], k=5,
                                     slop=1).collect()))
    assert sorted(map(tuple, t.collect())) == \
        sorted(map(tuple, idx2.top_k("alpha", k=5).collect()))
