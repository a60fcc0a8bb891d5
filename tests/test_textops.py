"""Text-pipeline operator tests (dedup / minhash / simhash / quality)."""
import pytest
from pyspark.sql import functions as F

from searcharray_spark import textops
from searcharray_spark.ann import cosine_neardup_pairs, cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),       # near dup
        (3, "completely different text about spark and parquet"),
        (4, ""),
        (5, "a a a a a"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = {r["keeper_id"]: r["n_docs"]
              for r in textops.exact_dedup(docs).collect()}
    assert groups[0] == 2  # docs 0,1 identical
    assert groups[2] == 1


def test_token_stats(spark, docs):
    rows = {r["doc_id"]: r for r in textops.token_stats(docs).collect()}
    assert rows[0]["n_tokens"] == 9
    assert rows[0]["n_unique"] == 8  # 'the' twice
    assert rows[4]["n_tokens"] == 0
    assert rows[5]["n_unique"] == 1


def test_quality_and_lang(spark, docs):
    q = {r["doc_id"]: r for r in textops.quality_score(docs).collect()}
    assert q[0]["quality"] > q[5]["quality"]  # repetitive doc scores lower
    lang = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[4] == "unknown"  # empty doc


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in textops.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_neardup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in textops.minhash_neardup_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) not in pairs


def test_simhash_and_fingerprint(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    assert sh[0] == sh[1]
    # near-dup docs: small hamming distance
    ham = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 16
    fp = {r["doc_id"]: r["fingerprint"] for r in textops.doc_fingerprint(docs).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[3]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [1.0, 0.01, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(spark, vectors):
    top = cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3, exclude_id=0).collect()
    assert [r["vec_id"] for r in top] == [4, 1, 2]
    assert top[0]["cosine"] > 0.99


def test_lsh_topk_subset_of_exact(spark, vectors):
    exact = {r["vec_id"] for r in
             cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=5).collect()}
    approx = lsh_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=5, n_planes=2).collect()
    assert {r["vec_id"] for r in approx} <= exact
    assert len(approx) >= 1


def test_cosine_neardup(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             cosine_neardup_pairs(vectors, threshold=0.95, n_planes=0).collect()}
    assert (0, 4) in pairs
    assert (0, 2) not in pairs


QUERY_CENTER_SEED = 5


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """380 background vectors + 20 planted near-neighbors of the query
    center — the regime LSH is built for (true neighbors have high
    cosine; random gaussians are near-orthogonal and unfindable)."""
    import numpy as np
    rng = np.random.default_rng(31)
    center = np.random.default_rng(QUERY_CENTER_SEED).standard_normal(16)
    center /= np.linalg.norm(center)
    rows = []
    for i in range(380):
        rows.append((i, [float(x) for x in rng.standard_normal(16)]))
    for i in range(20):
        v = center + 0.15 * rng.standard_normal(16)
        rows.append((380 + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_multiprobe_recall(spark, clustered_vectors):
    """Multi-probe must lift recall vs single-bucket probing, and reach a
    usable recall floor vs the exact baseline."""
    import numpy as np
    center = np.random.default_rng(QUERY_CENTER_SEED).standard_normal(16)
    q = [float(x) for x in center / np.linalg.norm(center)]
    exact = {r["vec_id"] for r in cosine_topk(clustered_vectors, q, k=10).collect()}
    rec = {}
    for n_probes in (1, 5):
        got = {r["vec_id"] for r in
               lsh_topk(clustered_vectors, q, k=10, n_planes=6,
                        n_probes=n_probes).collect()}
        rec[n_probes] = len(got & exact) / 10
    assert rec[5] >= rec[1]
    assert rec[5] >= 0.7, rec


def test_shingle_df_cap_drops_hot_shingles(spark):
    """A shingle present in every doc is excluded from the pair join."""
    docs = spark.createDataFrame(
        [(i, "the common shingle tail%d word%d" % (i, i)) for i in range(8)],
        "doc_id long, text string")
    pairs = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.01,
                                        max_shingle_df=4).collect()
    # only "the common shingle" is shared and it exceeds the cap -> no pairs
    assert pairs == []
    pairs2 = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.01,
                                         max_shingle_df=100).collect()
    assert len(pairs2) == 8 * 7 / 2
