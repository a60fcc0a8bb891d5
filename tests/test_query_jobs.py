"""Spark jobs per distributed query.

On the distributed route (the handle's local byte caps forced to 0)
every query runs exactly one Spark job, the scoring scan, whether or not
the postings are cached and even when its terms are cold: term sketches
and doc freqs are read on the driver with pyarrow, the reader frames are
memoized per handle, and pruned and batch top-k merge on the driver.
Results must equal the driver-local route's.
"""
import itertools
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark.index import SearchIndex

# 40 copies of each text: a term's docs tie on score, so ranks past the
# first few are decided by doc_id; 240 docs / 16 per block = 15 blocks
DOCS = (["foo bar bar baz", "data2 foo", "data3 bar baz qux",
         "bunny funny wunny", "foo baz foo bar baz", "qux qux bar"] * 40)
WARM = "data2"  # first query of every handle; no checked query uses it

_group_ids = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    gid = f"query-jobs-{next(_group_ids)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _rows(df):
    return [tuple(r) for r in df.collect()]


QUERIES = {
    "term": lambda i: _rows(i.top_k("bar", k=5)),
    "phrase": lambda i: _rows(i.top_k(["foo", "baz"], k=5)),
    "slop": lambda i: _rows(i.top_k(["bunny", "wunny"], k=5, slop=1)),
    "pruned_or3": lambda i: _rows(i.top_k_pruned(["foo", "qux", "funny"],
                                                 k=5)),
    "many": lambda i: _rows(i.top_k_many([["foo"], ["bar", "baz"], ["qux"]],
                                         k=7)),
}


@pytest.fixture(scope="module")
def idx_path(spark, tmp_path_factory):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("query_jobs") / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=16)
    return path


def _distributed(spark, path, cached: bool) -> SearchIndex:
    idx = SearchIndex(spark, path)
    idx.LOCAL_QUERY_MAX_BYTES = 0
    idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    assert not idx._local_query_ok(extended=True)
    if cached:
        idx.cache(force=True)
    idx.top_k(WARM, k=5).collect()
    return idx


@pytest.mark.parametrize("cached", [True, False], ids=["cached", "uncached"])
@pytest.mark.parametrize("query", sorted(QUERIES))
def test_cold_distributed_query_runs_one_job(spark, idx_path, query, cached):
    local = SearchIndex(spark, idx_path)
    assert local._local_query_ok(extended=True)
    want, local_jobs = _jobs(spark, lambda: QUERIES[query](local))
    assert local_jobs == 0
    try:
        idx = _distributed(spark, idx_path, cached)
        assert idx._files_aligned()
        got, jobs = _jobs(spark, lambda: QUERIES[query](idx))
    finally:
        spark.catalog.clearCache()
    assert jobs == 1, query
    assert got == want, query
    assert got  # every checked query has hits


def test_pruned_no_match_is_driver_held(spark, idx_path):
    idx = _distributed(spark, idx_path, cached=False)
    out, jobs = _jobs(spark, lambda: idx.top_k_pruned(["nope", "nada"], k=5))
    assert out.collect() == []
    assert jobs == 0


def test_pruned_many_blocks_runs_one_job(spark, tmp_path_factory):
    """A pruned OR top-k over 150 blocks whose bounds are all equal (every
    block holds the same texts): one Spark job on the distributed route,
    the same rows as the driver-local route. (A driver loop that scored a
    seed chunk of blocks first ran two jobs here.)"""
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS * 10)], "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("query_jobs_many") / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=16)
    local = SearchIndex(spark, path)
    assert -(-len(DOCS * 10) // local.docs_per_block) >= 150
    query = QUERIES["pruned_or3"]
    want, local_jobs = _jobs(spark, lambda: query(local))
    assert local_jobs == 0
    idx = _distributed(spark, path, cached=False)
    got, jobs = _jobs(spark, lambda: query(idx))
    assert jobs == 1
    assert got == want and got


@pytest.mark.parametrize("aligned", [True, False],
                         ids=["driver_merge", "repartitioned"])
def test_top_k_many_ranks_exact_across_partitions(spark, idx_path, aligned):
    """Per-partition top-k merged on the driver: exact ranks when a
    token's ties span more blocks than there are scan partitions. A
    layout not known to be scan-aligned repartitions the phrase batch's
    rows by block_id before the same kernel: same ranks."""
    idx = _distributed(spark, idx_path, cached=False)
    idx._aligned = aligned
    n_blocks = -(-len(DOCS) // idx.docs_per_block)
    assert n_blocks > idx.postings.rdd.getNumPartitions()
    tokens = [["bar"], ["foo"], ["qux", "bar"], ["wunny"]]
    k = 9
    got = idx.top_k_many(tokens, k=k).collect()
    for ti, tok in enumerate(tokens):
        full = [(r["doc_id"], r["score"])
                for r in SearchIndex(spark, idx_path).score(tok).collect()]
        full.sort(key=lambda x: (-x[1], x[0]))
        assert len(full) > k
        # the cut falls inside a run of tied scores
        assert full[k - 1][1] == full[k][1]
        mine = sorted((r for r in got if r["token_idx"] == ti),
                      key=lambda r: r["rank"])
        assert [r["rank"] for r in mine] == list(range(1, k + 1))
        assert [(r["doc_id"], r["score"]) for r in mine] == full[:k]
        assert np.all(np.diff([r["score"] for r in mine]) <= 0)


def test_concurrent_cold_term_reads_share_one_handle(spark, idx_path):
    """Client threads share a handle: concurrent cold reads through the
    driver-side term_stats reader and its per-handle memos give every
    thread the serial answer."""
    terms = ["foo", "bar", "baz", "qux", "bunny", "funny", "wunny",
             "data2", "data3", "nope"]
    want = SearchIndex(spark, idx_path).docfreqs(terms)
    assert want["nope"] == 0 and min(
        v for t, v in want.items() if t != "nope") > 0
    idx = SearchIndex(spark, idx_path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [pool.submit(idx.docfreqs, terms[i % 7:] + terms[:i % 7])
                    for i in range(32)]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert all(g == want for g in got)
    sketches = idx._term_sketches(terms)
    assert {t: (s.df if s is not None else 0)
            for t, s in sketches.items()} == want


def test_single_term_top_k_merges_every_batch(spark, idx_path):
    """Single-term scans stream: each Arrow batch's per-token top-k
    leaves the task and the driver merges them. With one posting row per
    batch, the distributed ranks still equal the driver-local route's."""
    local = SearchIndex(spark, idx_path)
    queries = ("term", "many")
    want = [QUERIES[q](local) for q in queries]
    idx = _distributed(spark, idx_path, cached=False)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        got = [QUERIES[q](idx) for q in queries]
    finally:
        spark.conf.set(key, old)
    assert got == want


LOCAL_CALLS = {
    "score_count": lambda i: i.score("bar").count(),
    "termfreqs": lambda i: _rows(i.termfreqs(["foo", "bar"])),
    "positions": lambda i: _rows(i.positions("bar", doc_ids=[0, 2, 33])),
    "doc": lambda i: i.doc(2),
}


@pytest.mark.parametrize("call", sorted(LOCAL_CALLS))
def test_driver_local_calls_run_no_job(spark, idx_path, call):
    """The driver-local route stays job-free past the scan: ``score`` and
    ``termfreqs`` pick their columns in pandas, ``positions`` and the
    doc-major rows read the driver-held store."""
    idx = SearchIndex(spark, idx_path)
    assert idx._local_query_ok(extended=True)
    idx.top_k(WARM, k=5)
    got, jobs = _jobs(spark, lambda: LOCAL_CALLS[call](idx))
    assert jobs == 0, call
    assert got


def test_distributed_df_corrections_one_job(spark, tmp_path_factory):
    """The df correction after deletes is one scan summed on the driver:
    one Spark job, no Exchange (no groupBy), and the driver-local
    route's counts."""
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("query_jobs_df") / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=16)
    SearchIndex(spark, path).delete_docs([0, 4, 5, 17, 100, 239])
    terms = ["foo", "bar", "baz", "bunny", "nope"]
    local = SearchIndex(spark, path)
    want, local_jobs = _jobs(spark, lambda: local._df_corrections(terms))
    assert local_jobs == 0
    assert want["foo"] < 0 and want["bar"] < 0 and "nope" not in want
    idx = _distributed(spark, path, cached=False)
    got, jobs = _jobs(spark, lambda: idx._df_corrections(terms))
    assert jobs == 1
    assert got == want
    plan = idx._killed_rows(terms)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert local.docfreqs(terms) == idx.docfreqs(terms)
