"""Remote-store abstraction (pyarrow.fs route).

A SearchIndex opened via a file:// URI must exercise the SAME code path
an object-store index would: every driver/executor-side metadata and
side-input read (meta.json, doclens ranges, tombstones, term sketches,
footer walks) goes through fsutil/pyarrow.fs, never bare os.* on the
URI. The sandbox has no s3, but LocalFileSystem-via-URI proves the
abstraction boundary end-to-end; unsupported schemes fail fast.
"""
import pytest

from searcharray_spark import build_index, fsutil
from searcharray_spark.index import SearchIndex

DOCS = ["foo bar bar baz", "data2 foo", "data3 bar baz qux",
        "bunny funny wunny", "foo baz foo bar baz", "qux qux bar"] * 20


@pytest.fixture()
def idx_path(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path, doc_id_col="doc_id", docs_per_block=16)
    return path


def _snap(idx):
    return {
        "score": sorted(tuple(r) for r in idx.score("bar").collect()),
        "phrase": sorted(tuple(r)
                         for r in idx.termfreqs(["foo", "bar"]).collect()),
        "topk": [tuple(r) for r in idx.top_k("baz", k=5).collect()],
        "pos": sorted((r["doc_id"], tuple(r["posns"]))
                      for r in idx.positions("qux").collect()),
        "df": idx.docfreqs(["foo", "bar", "nope"]),
        "mem": idx.memory_report()["tables"],
    }


def test_file_uri_end_to_end(spark, idx_path, monkeypatch):
    plain = SearchIndex(spark, idx_path)
    want = _snap(plain)

    uri = SearchIndex(spark, "file://" + idx_path)
    assert uri.path.startswith("file://")  # the URI is kept, not stripped
    assert _snap(uri) == want

    # distributed path: executor-side side-input loaders get file:// URIs
    # through the doclens SideReader's file ranges
    dist = SearchIndex(spark, "file://" + idx_path)
    dist.LOCAL_QUERY_MAX_BYTES = dist.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    assert dist._files_aligned() is True  # recorded flag, read over the URI
    assert _snap(dist) == want


def test_file_uri_mutations(spark, idx_path):
    uri = SearchIndex(spark, "file://" + idx_path)
    uri.delete_docs([0, 3, 17])
    upd = spark.createDataFrame([(1, "zot zot")], "doc_id long, text string")
    uri.update_docs(upd)

    # a plain-path handle sees the identical mutated state
    plain = SearchIndex(spark, idx_path)
    assert _snap(plain) == _snap(SearchIndex(spark, "file://" + idx_path))
    assert plain.num_docs == uri.num_docs
    zot = sorted(r["doc_id"] for r in plain.score("zot").collect())
    assert zot == [1]


def test_file_uri_tombstone_sidetable(spark, idx_path):
    uri = SearchIndex(spark, "file://" + idx_path)
    uri.delete_docs(range(0, 40))
    from searcharray_spark.index import SideReader
    tomb = uri._tombstones()
    assert isinstance(tomb, SideReader)
    assert all(p.startswith("file://") for _seg, p, *_ in tomb.ranges)
    alive = {r["doc_id"] for r in uri.score("bar").collect()}
    assert alive & set(range(0, 40)) == set()


def test_unsupported_scheme_fails_fast(spark):
    with pytest.raises(NotImplementedError, match="scheme"):
        SearchIndex(spark, "bogus-scheme://bucket/index")



def test_file_uri_writes_match_posix(spark, tmp_path, monkeypatch):
    """build_index, update_docs and compact_index on a file:// URI write
    the same files as on the POSIX path, append metrics.jsonl through
    the resolved filesystem, and create nothing in the working dir."""
    import json
    import os

    import pyarrow.parquet as pq
    from test_build_groups import _assert_same_files

    from searcharray_spark import indexing
    from searcharray_spark.merge import compact_index

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    upd = spark.createDataFrame([(1, "zot zot"), (40, "foo zot")],
                                "doc_id long, text string")

    def meta(path):
        with open(os.path.join(path, "meta.json")) as fh:
            m = json.load(fh)
        m.pop("build_secs", None)
        m.pop("compacted_from", None)
        return m

    def stages(path):
        with open(os.path.join(path, "metrics.jsonl")) as fh:
            return [json.loads(ln)["stage"] for ln in fh]

    def write(root):
        """root is a POSIX path or a file:// URI over tmp_path."""
        for name, small in (("local", 16384), ("fused", 0)):
            monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", small)
            path = f"{root}/{name}"
            idx = build_index(spark, corpus, path, doc_id_col="doc_id",
                              docs_per_block=16, term_partitions=3)
            monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", 16384)
            idx.update_docs(upd)
            compact_index(spark, path, f"{root}/{name}_compact")

    posix, uri = tmp_path / "posix", tmp_path / "uri"
    write(str(posix))
    write("file://" + str(uri))
    for sub in ("local", "fused", "local_compact", "fused_compact",
                "local/updates/seg=1", "fused/updates/seg=1"):
        a, b = str(posix / sub), str(uri / sub)
        _assert_same_files(a, b)
        assert meta(a) == meta(b), sub
        if not sub.endswith("compact"):
            assert stages(a) == stages(b) and stages(a)[-1] == "finalize"
    for name in ("local", "fused"):
        a, b = posix / name, uri / name
        tomb = [pq.read_table(str(p / "tombstones")).sort_by("doc_id")
                for p in (a, b)]
        assert tomb[0].equals(tomb[1])
        assert os.listdir(a / "stats_log") == os.listdir(b / "stats_log")
        assert (SearchIndex(spark, "file://" + str(b)).history()
                == SearchIndex(spark, str(a)).history())
    assert os.listdir(cwd) == []
