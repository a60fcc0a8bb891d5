"""Block-max pruned top-k: rank identity vs exhaustive scoring, plus
actual pruning on a skewed corpus."""
import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark import query_kernel as QK
from searcharray_spark import similarity as sim_mod
from searcharray_spark.index import SearchIndex


def _distributed(idx):
    """Force the distributed route through the handle's local caps."""
    idx.LOCAL_QUERY_MAX_BYTES = 0
    idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    return idx


@pytest.fixture(scope="module")
def skewed_index(spark, tmp_path_factory):
    # one "hot" block of long docs + many blocks of short docs: the short
    # docs score higher for the same tf, so block-max bounds vary
    rng = np.random.default_rng(5)
    docs = []
    for i in range(2000):
        if i % 400 == 7:
            docs.append("target " + " ".join(["filler"] * 3))  # short: high score
        elif i % 11 == 0:
            docs.append("target " + " ".join(["filler"] * 80))  # long: low score
        else:
            docs.append(" ".join(rng.choice(["a", "b", "c", "filler"], 20)))
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path_factory.mktemp("wand") / "idx"),
                      doc_id_col="doc_id", docs_per_block=100)
    # this corpus is small enough for the driver-local route; the rank
    # identity cases pin the distributed one (the pruning cases below
    # count blocks on a driver-local handle: both routes share the kernel)
    return _distributed(idx)


@pytest.mark.parametrize("term,k", [("target", 5), ("target", 10),
                                    ("filler", 10), ("a", 3),
                                    ("missing_term", 5), ("target", 0)])
def test_pruned_topk_rank_identical(skewed_index, term, k):
    exact = [(r["doc_id"], r["score"])
             for r in skewed_index.top_k(term, k=k).collect()]
    pruned_df = skewed_index.top_k_pruned(term, k=k)
    pruned = [(r["doc_id"], r["score"]) for r in pruned_df.collect()]
    assert pruned == exact, (term, k)


def _blocks_scored(monkeypatch, idx, terms, k):
    """(blocks the kernel scored, blocks with a bound) for one pruned
    top-k query on ``idx``."""
    scored = []
    real = QK.score_block

    def counting(spec, block_id, *args, **kwargs):
        scored.append(block_id)
        return real(spec, block_id, *args, **kwargs)

    monkeypatch.setattr(QK, "score_block", counting)
    idx.top_k_pruned(terms, k=k).collect()
    bounds = idx._block_bounds([[t] for t in terms], sim_mod.resolve(None))
    return len(scored), len({b for bl, _ in bounds for b in bl.tolist()})


def test_pruned_k0_is_empty_on_the_local_route(spark, skewed_index):
    """k=0 leaves no held row to take a running kth score from."""
    local = SearchIndex(spark, skewed_index.path)
    assert local._local_query_ok(extended=True)
    for terms in ("target", ["target", "a"]):
        assert local.top_k_pruned(terms, k=0).collect() == []


def test_running_cut_after_every_block_keeps_ranks(spark, skewed_index,
                                                   monkeypatch):
    """The running top-k cuts its held rows only past QK._CUT_ROWS;
    cutting after every one of the 20 blocks gives the same rows, with
    and without block bounds."""
    local = SearchIndex(spark, skewed_index.path)
    queries = (lambda i: i.top_k("filler", k=5),
               lambda i: i.top_k_many([["target"], ["a"],
                                       ["target", "filler"]], k=7),
               lambda i: i.top_k_pruned(["a", "b"], k=6),
               lambda i: i.top_k_pruned(["a", "b"], k=6, similarity=(
                   lambda *a: sim_mod.resolve(None)(*a))))
    want = [q(local).collect() for q in queries]
    monkeypatch.setattr(QK, "_CUT_ROWS", 0)
    assert [q(local).collect() for q in queries] == want


def test_pruning_actually_prunes(spark, skewed_index, monkeypatch):
    """On the driver-local route the kernel stops at the first block
    whose bound is below the running kth score."""
    local = SearchIndex(spark, skewed_index.path)
    assert local._local_query_ok(extended=True)
    scored, bounded = _blocks_scored(monkeypatch, local, ["target"], 5)
    assert 0 < scored < bounded, (scored, bounded)


@pytest.mark.parametrize("terms,k", [(["target", "a"], 5),
                                     (["target", "filler", "b"], 10),
                                     (["a", "b", "c"], 7),
                                     (["missing", "target"], 5),
                                     (["target", "a"], 0)])
def test_pruned_topk_multiterm_rank_identical(skewed_index, terms, k):
    """Multi-term OR top-k (MaxScore-style block bounds) must be
    rank-identical to exhaustive search_or scoring."""
    from pyspark.sql import functions as F
    exact = [(r["doc_id"], round(float(r["score"]), 4))
             for r in skewed_index.search_or(terms, mm=1)
             .orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()]
    pruned = [(r["doc_id"], round(float(r["score"]), 4))
              for r in skewed_index.top_k_pruned(terms, k=k).collect()]
    assert pruned == exact, (terms, k)


def test_pruned_topk_phrase_rank_identical(skewed_index):
    """Phrase-token bound: top_k_pruned on a phrase matches top_k."""
    exact = [(r["doc_id"], r["score"])
             for r in skewed_index.top_k(["target", "filler"], k=5).collect()]
    pruned = [(r["doc_id"], r["score"])
              for r in skewed_index.top_k_pruned([["target", "filler"]], k=5).collect()]
    assert pruned == exact


def test_multiterm_pruning_actually_prunes(spark, skewed_index, monkeypatch):
    local = SearchIndex(spark, skewed_index.path)
    assert local._local_query_ok(extended=True)
    scored, bounded = _blocks_scored(monkeypatch, local, ["target", "a"], 5)
    assert 0 < scored < bounded, (scored, bounded)


def test_bounds_cache_not_keyed_by_id_reuse(skewed_index):
    """Recreating a parameterized similarity per call must NOT hit a
    stale bounds cache entry (id() reuse after GC made WAND pruning
    silently unsound before round 4 — cache now keys on the callable
    object itself, holding a strong reference)."""
    from searcharray_spark.similarity import bm25_similarity

    def run(k1):
        # fresh closure each call, candidate for id reuse after GC
        return [(r["doc_id"], round(float(r["score"]), 4))
                for r in skewed_index.top_k_pruned(
                    ["target", "filler"], k=5,
                    similarity=bm25_similarity(k1=k1, b=0.4)).collect()]

    first = run(0.3)
    for _ in range(3):  # churn allocations to encourage id reuse
        run(4.0)
    again = run(0.3)
    assert first == again
    assert first != run(4.0)  # genuinely different params -> different scores


def test_unhashable_similarity_skips_cache(skewed_index):
    """An unhashable custom similarity scores exhaustively without
    caching (and without crashing on the cache-key hash)."""
    import numpy as np

    class Sim:
        __hash__ = None  # explicitly unhashable

        def __call__(self, tf, dfs, dl, avgdl, n):
            return np.asarray(tf, dtype=np.float32)

    out = skewed_index.top_k_pruned("target", k=3, similarity=Sim()).collect()
    assert len(out) == 3


def test_maxscore_kernel_split_rank_identical(spark, tmp_path):
    """Force the term-level MaxScore split (hot non-essential terms vs a
    rare high-scoring one) and check rank identity + that the kernel
    path actually engages (theta known once k docs are held, hot terms
    semi-joined)."""
    import numpy as np
    rng = np.random.default_rng(11)
    docs = []
    for i in range(4000):
        base = " ".join(rng.choice(["hot", "warm", "cool"], 12))
        if i % 500 == 3:
            docs.append("needle " + base)
        else:
            docs.append(base)
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "ms"),
                      doc_id_col="doc_id", docs_per_block=64)
    _distributed(idx)
    from pyspark.sql import functions as F
    for terms in (["needle", "hot"], ["needle", "hot", "warm"],
                  ["hot", "warm"]):
        exact = [(r["doc_id"], round(float(r["score"]), 4))
                 for r in idx.search_or(terms, mm=1)
                 .orderBy(F.desc("score"), F.asc("doc_id")).limit(7)
                 .collect()]
        pruned = [(r["doc_id"], round(float(r["score"]), 4))
                  for r in idx.top_k_pruned(terms, k=7).collect()]
        assert pruned == exact, terms
