"""Driver-side term_stats reads.

Doc freqs and block sketches are read with pyarrow from only the
row groups whose footer term min/max can hold a queried term. Both
writers (driver-local pyarrow and distributed Spark) keep term_stats
files term-sorted in row groups of TERM_STATS_ROW_GROUP_ROWS terms, so
a lookup decodes O(queried terms) row groups.
"""
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from searcharray_spark import build_index, fsutil, indexing
from searcharray_spark.index import SearchIndex

DOCS = ["foo bar bar baz", "data2 foo", "data3 bar baz qux",
        "bunny funny wunny", "foo baz foo bar baz", "qux qux bar",
        "alpha beta gamma", "delta epsilon zeta", "eta theta iota"] * 20
TERMS = sorted({t for d in DOCS for t in d.split()})


def _corpus(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")


def _dfs():
    return {t: sum(t in d.split() for d in DOCS) for t in TERMS}


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_term_lookup_skips_row_groups(spark, tmp_path, monkeypatch, writer):
    monkeypatch.setattr(indexing, "TERM_STATS_ROW_GROUP_ROWS", 4)
    if writer == "spark":  # fused build, distributed term_stats agg
        monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", 0)
        monkeypatch.setattr(indexing, "TS_LOCAL_MAX_POSTINGS_BYTES", -1)
    path = str(tmp_path / "idx")
    build_index(spark, _corpus(spark), path, doc_id_col="doc_id",
                docs_per_block=16)
    root = fsutil.join(path, "term_stats")
    files = [f for f, _ in fsutil.list_parquet_files(root)]
    n_groups = 0
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column(0).to_pylist()
        assert terms == sorted(terms)
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups == -(-len(terms) // 4)
        n_groups += md.num_row_groups

    reads = []
    real = fsutil.read_parquet

    def spy(p, columns=None, filters=None):
        reads.append((p, filters))
        return real(p, columns=columns, filters=filters)

    monkeypatch.setattr(fsutil, "read_parquet", spy)
    idx = SearchIndex(spark, path)
    for term in ("bar", "iota", "nope"):
        reads.clear()
        assert idx.docfreqs([term]) == {term: _dfs().get(term, 0)}
        assert [p for p, _ in reads] == [root]
        expr = pq.filters_to_expression(reads[0][1])
        kept = [len(frag.split_by_row_group(expr))
                for frag in ds.dataset(root, format="parquet").get_fragments()]
        # sorted files: at most one row group per file can hold the term
        assert max(kept) <= 1 and sum(kept) < n_groups, (term, kept)
    assert idx.docfreqs(TERMS) == _dfs()
