"""Doc-major row surface (rows.py): Terms scalar, __getitem__, take,
value_counts, unique, rowwise equality — reference semantics from
postings.py:57-166,329-343,427-530, verified against a pure-python
model of the corpus, on BOTH the driver-local and the Spark block
kernels.
"""
import collections

import numpy as np
import pytest

from searcharray_spark import SearchIndex, Terms, build_index
from searcharray_spark import rows as R

CORPUS = (["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 25
          + ["", "foo bar bar baz"])  # an empty doc + a duplicate


def model_bags(texts):
    out = []
    for t in texts:
        toks = t.split()
        out.append((dict(collections.Counter(toks)), len(toks)))
    return out


@pytest.fixture(scope="module")
def rows_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rows") / "idx")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    return build_index(spark, df, path, doc_id_col="doc_id",
                       docs_per_block=64)


@pytest.fixture(params=["local", "spark"])
def surface_index(request, rows_index, monkeypatch):
    """The same index through both execution paths."""
    if request.param == "spark":
        monkeypatch.setattr(SearchIndex, "LOCAL_QUERY_MAX_DOCS", -1)
        assert rows_index._local_query_ok() is False
    else:
        assert rows_index._local_query_ok() is True
    return rows_index


# --- Terms scalar semantics (reference postings.py:57-166) --------------

def test_terms_eq_requires_doc_len():
    a = Terms({"foo": 1, "bar": 2}, doc_len=3)
    b = Terms({"bar": 2, "foo": 1}, doc_len=3)
    c = Terms({"foo": 1, "bar": 2}, doc_len=4)
    assert a == b
    assert a != c
    assert hash(a) == hash(b) == hash(c)  # hash covers postings only


def test_terms_lt_sparse_lexical():
    # first differing coordinate over the sorted term union decides
    a = Terms({"apple": 1})
    b = Terms({"apple": 2})
    c = Terms({"banana": 5})
    assert a < b
    assert c < a          # c has apple=0 < a's apple=1
    assert not (a < a)
    assert a <= Terms({"apple": 1})
    assert b > a
    assert sorted([b, a, c]) == [c, a, b]


def test_terms_scalar_api():
    t = Terms({"x": 2, "y": 1}, doc_len=3,
               posns={"x": np.array([0, 2]), "y": np.array([1])})
    assert t.termfreq("x") == 2
    assert dict(t.terms()) == {"x": 2, "y": 1}
    assert list(t.positions("x")) == [0, 2]
    assert len(t) == 2
    assert not t.isna()
    assert Terms({}).isna()
    assert "x" in repr(t)


# --- doc-major derivation ------------------------------------------------

def test_doc_termfreqs_matches_model(surface_index):
    got = {(r["doc_id"], r["term"]): r["tf"]
           for r in surface_index.doc_termfreqs().collect()}
    want = {}
    for i, (bag, _) in enumerate(model_bags(CORPUS)):
        for term, tf in bag.items():
            want[(i, term)] = tf
    assert got == want


def test_doc_termfreqs_restricted(surface_index):
    got = sorted((r["doc_id"], r["term"], r["tf"])
                 for r in surface_index.doc_termfreqs([0, 2]).collect())
    assert got == [(0, "bar", 2), (0, "baz", 1), (0, "foo", 1),
                   (2, "bar", 1), (2, "data3", 1)]


def test_doc_terms_includes_empty_doc(surface_index):
    rows = {r["doc_id"]: r for r in surface_index.doc_terms().collect()}
    assert len(rows) == len(CORPUS)
    empty = rows[100]
    assert list(empty["tfs"]) == [] and empty["doc_len"] == 0
    r0 = rows[0]
    assert [(e["term"], e["tf"]) for e in r0["tfs"]] == \
        [("bar", 2), ("baz", 1), ("foo", 1)]
    assert r0["doc_len"] == 4


def test_doc_major_zero_shuffle_when_aligned(rows_index, monkeypatch):
    """The 100 TB shape: a full doc-major derivation must not shuffle
    the postings table when files are scan-aligned (whole blocks per
    scan task); doc bags combine map-side."""
    monkeypatch.setattr(SearchIndex, "LOCAL_QUERY_MAX_DOCS", -1)
    assert rows_index._files_aligned()
    plan = rows_index.doc_termfreqs() \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_doc_major_unaligned_repartitions_by_block(rows_index, monkeypatch):
    """A layout not known to be scan-aligned repartitions the postings
    by block_id before the same per-block kernel: one exchange, no
    grouped applyInPandas, the same rows."""
    monkeypatch.setattr(SearchIndex, "LOCAL_QUERY_MAX_DOCS", -1)
    want = sorted(tuple(r) for r in rows_index.doc_termfreqs().collect())
    monkeypatch.setattr(rows_index, "_aligned", False, raising=False)
    frame = rows_index.doc_termfreqs()
    plan = frame._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(ex) == 1 and "hashpartitioning(block_id" in ex[0], ex
    assert "FlatMapGroupsInPandas" not in plan
    assert sorted(tuple(r) for r in frame.collect()) == want


# --- P1 row view ----------------------------------------------------------

def test_doc_row_view(surface_index):
    t = surface_index[0]
    assert t.postings == {"foo": 1, "bar": 2, "baz": 1}
    assert t.doc_len == 4
    assert t.posns["bar"].tolist() == [1, 2]
    assert t.posns["foo"].tolist() == [0]
    # negative index counts from the end
    assert surface_index.doc(-1).postings == {"foo": 1, "bar": 2, "baz": 1}
    with pytest.raises(IndexError):
        surface_index.doc(len(CORPUS))


def test_doc_row_view_empty_doc(surface_index):
    t = surface_index.doc(100)
    assert t.postings == {} and t.doc_len == 0


# --- P3 take ---------------------------------------------------------------

def test_take_plain_and_negative(surface_index):
    got = surface_index.take([2, 0, -2])
    assert got[0].postings == {"data3": 1, "bar": 1}
    assert got[1].doc_len == 4
    assert got[2].postings == {}  # doc 100 is the empty doc


def test_take_allow_fill(surface_index):
    got = surface_index.take([1, -1, 10 ** 9], allow_fill=True)
    assert got[0].postings == {"data2": 1}
    assert got[1] == Terms({}) and got[2] == Terms({})
    custom = Terms({"filled": 1}, doc_len=1)
    got = surface_index.take([-1], allow_fill=True, fill_value=custom)
    assert got[0] is custom
    with pytest.raises(ValueError):
        surface_index.take([-2], allow_fill=True)
    with pytest.raises(IndexError):
        surface_index.take([10 ** 9])


# --- P7 value_counts / unique ----------------------------------------------

def _bag_key(row):
    return (tuple((e["term"], e["tf"]) for e in row["tfs"]), row["doc_len"])


def test_value_counts(surface_index):
    got = {_bag_key(r): r["count"]
           for r in surface_index.value_counts().collect()}
    want = collections.Counter(
        (tuple(sorted(bag.items())), dl) for bag, dl in model_bags(CORPUS)
        if bag or dl)
    assert got == dict(want)
    # the duplicate doc folds into its bag
    assert got[((("bar", 2), ("baz", 1), ("foo", 1)), 4)] == 26
    # dropna=False keeps the empty doc
    with_na = {_bag_key(r): r["count"]
               for r in surface_index.value_counts(dropna=False).collect()}
    assert with_na[((), 0)] == 1


def test_unique_docs(surface_index):
    got = {_bag_key(r) for r in surface_index.unique_docs().collect()}
    want = {(tuple(sorted(bag.items())), dl)
            for bag, dl in model_bags(CORPUS)}
    assert got == want
    assert len(got) == 5  # 4 distinct texts + the empty doc


# --- P5 rowwise equality -----------------------------------------------------

def test_rowwise_eq_self(spark, rows_index):
    rows = rows_index.rowwise_eq(rows_index).collect()
    assert len(rows) == len(CORPUS)
    assert all(r["eq"] for r in rows)


def test_rowwise_eq_detects_changes(spark, rows_index, tmp_path):
    changed = list(CORPUS)
    changed[3] = "bunny funny funny"     # same len, different tfs
    changed[7] = "data2 data2"           # different doc_len
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(changed)], "doc_id long, text string")
    other = build_index(spark, df, str(tmp_path / "idx2"),
                        doc_id_col="doc_id", docs_per_block=64)
    got = {r["doc_id"]: r["eq"] for r in rows_index.rowwise_eq(other).collect()}
    assert got[3] is False and got[7] is False
    assert all(v for k, v in got.items() if k not in (3, 7))


# --- maintenance interplay ----------------------------------------------------

def test_rows_after_update_and_delete(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "idx"),
                      doc_id_col="doc_id", docs_per_block=64)
    idx.update_docs(spark.createDataFrame(
        [(1, "patched text")], "doc_id long, text string"))
    idx.delete_docs([2])

    t = idx.doc(1)
    assert t.postings == {"patched": 1, "text": 1} and t.doc_len == 2
    with pytest.raises(IndexError):
        idx.doc(2)
    filled = idx.take([1, 2], allow_fill=True)
    assert filled[0].postings == {"patched": 1, "text": 1}
    assert filled[1] == Terms({})

    bags = {r["doc_id"]: _bag_key(r) for r in idx.doc_terms().collect()}
    assert 2 not in bags
    assert bags[1] == ((("patched", 1), ("text", 1)), 2)

    vc = {_bag_key(r): r["count"] for r in idx.value_counts().collect()}
    assert vc[((("patched", 1), ("text", 1)), 2)] == 1
    assert vc[((("bar", 1), ("data3", 1)), 2)] == 24  # doc 2 deleted
