"""Round-5 ADVICE fixes: broadcast-gate capacity, pretokenized
small-build byte cap, checked doclens lookup in merges; readers refuse
index formats other than the one every writer produces."""
import json
import os

import numpy as np
import pytest

from searcharray_spark import build_index
from searcharray_spark import indexing
from searcharray_spark.index import SearchIndex
from searcharray_spark.merge import (_lens_for_ids, compact_index,
                                     merge_indexes)

DOCS = ["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 10


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")


def test_doclens_capacity_gates_on_as_built_not_live(spark, corpus, tmp_path):
    """Mass deletes shrink the LIVE num_docs but never the doclens table;
    the broadcast gate must use as-built capacity + update-seg sizes."""
    idx = build_index(spark, corpus, str(tmp_path / "i"),
                      doc_id_col="doc_id", docs_per_block=16)
    cap0 = idx._doclens_capacity()
    assert cap0 == idx.capacity == len(DOCS)
    idx.delete_docs(range(0, len(DOCS) - 2))
    assert idx.num_docs == 2              # live count collapsed...
    assert idx._doclens_capacity() == cap0  # ...broadcast bound did not
    upd = spark.createDataFrame([(0, "foo foo")], "doc_id long, text string")
    idx.update_docs(upd)
    assert idx._doclens_capacity() == cap0 + 1  # seg adds its doc count


@pytest.mark.parametrize("version", [3, None])
def test_other_format_version_refuses_to_open(spark, corpus, tmp_path,
                                              version):
    """Only format_version 4 (commit.FORMAT_VERSION) opens: an older or
    unversioned meta.json raises ValueError naming the found version,
    in SearchIndex and in the merge/compaction readers built on it."""
    path = str(tmp_path / "i")
    idx = build_index(spark, corpus, path, doc_id_col="doc_id",
                      docs_per_block=16)
    meta = dict(idx.meta)
    if version is None:
        meta.pop("format_version")
    else:
        meta["format_version"] = version
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match=f"format_version {version}.*Rebuild"):
        SearchIndex(spark, path)
    with pytest.raises(ValueError, match="format_version"):
        compact_index(spark, path, str(tmp_path / "c"))
    with pytest.raises(ValueError, match="format_version"):
        merge_indexes(spark, [path], str(tmp_path / "m"))


def test_pretokenized_small_build_respects_byte_cap(spark, tmp_path,
                                                    monkeypatch):
    toks = spark.createDataFrame(
        [(i, t.split()) for i, t in enumerate(DOCS)],
        "doc_id long, toks array<string>")
    monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_BYTES", 10)
    idx = build_index(spark, toks, str(tmp_path / "i"), tokens_col="toks",
                      doc_id_col="doc_id", docs_per_block=16)
    # over the byte cap -> distributed path, still correct
    assert idx.meta.get("built_local") is None
    assert idx.docfreq("bar") == 20


def test_lens_for_ids_raises_on_missing_doc(spark):
    dl_ids = np.array([0, 2, 5], dtype=np.int64)
    dl_lens = np.array([1.0, 2.0, 3.0], dtype=np.float32)
    ok = _lens_for_ids(dl_ids, dl_lens, np.array([0, 5], dtype=np.int64))
    assert ok.tolist() == [1.0, 3.0]
    with pytest.raises(ValueError, match="missing from doclens"):
        _lens_for_ids(dl_ids, dl_lens, np.array([0, 3], dtype=np.int64))
    with pytest.raises(ValueError, match="missing from doclens"):
        _lens_for_ids(dl_ids, dl_lens, np.array([6], dtype=np.int64))
    assert _lens_for_ids(dl_ids, dl_lens,
                         np.array([], dtype=np.int64)).size == 0
