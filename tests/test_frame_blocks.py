"""The kernel's grouping of one scan batch into blocks
(``query_kernel._frame_blocks``).

After ``repartition(block_id)`` a batch holds several blocks' posting
rows interleaved. The kernel groups them with a stable argsort, not a
pandas groupby, and must give what the groupby gave: blocks ascending,
each block's rows in scan order. Scoring such a batch in
``partition_hits`` is bit-identical to the driver-local route.
"""
import numpy as np
import pandas as pd
import pytest

from searcharray_spark import build_index, fsutil
from searcharray_spark import query_kernel as QK
from searcharray_spark.index import SearchIndex

DOCS = [(i, f"w{i % 5} common w{i % 7} tail{i % 3} common")
        for i in range(200)]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("frame_blocks") / "idx")
    build_index(spark, spark.createDataFrame(DOCS, "doc_id long, text string"),
                path, doc_id_col="doc_id", docs_per_block=8)  # 25 blocks
    idx = SearchIndex(spark, path)
    idx.delete_docs([3, 17, 40, 41, 199])
    assert idx._local_query_ok()
    return idx


def _interleaved(idx, terms, seed=7):
    """The query terms' posting rows in a shuffled order, as one scan
    batch after a repartition by block_id."""
    tbl = fsutil.read_parquet(fsutil.join(idx.path, "postings"),
                              columns=["term", "block_id", "postings"])
    pdf = tbl.to_pandas()
    pdf = pdf[pdf["term"].isin(terms)]
    pdf = pdf.iloc[np.random.default_rng(seed).permutation(len(pdf))]
    pdf = pdf.assign(seg=np.zeros(len(pdf), dtype=np.int64))
    assert (np.diff(pdf["block_id"].to_numpy()) < 0).any()  # interleaved
    return pdf.reset_index(drop=True)


def test_frame_blocks_matches_groupby(idx):
    pdf = _interleaved(idx, ["common", "w1", "w3"])
    pdf["cand"] = [int(b).to_bytes(8, "little") for b in pdf["block_id"]]
    got = [(b, list(rows), cand) for b, rows, cand in QK._frame_blocks(pdf)]
    want = [(int(b), list(zip(g["term"].tolist(), g["postings"].tolist(),
                              g["seg"].tolist())), g["cand"].iloc[0])
            for b, g in pdf.groupby("block_id")]
    assert got == want
    assert [b for b, *_ in got] == sorted({int(b) for b in pdf["block_id"]})


@pytest.mark.parametrize("tokens, kw", [
    ([["common"]], {}),
    ([["w1"], ["tail0"]], {}),
    ([["common", "w3"]], {}),
    ([["w1"], ["w3"], ["tail2"]], {"or_combine": True}),
    ([["common"]], {"per_token_topk": 5}),
    ([["w1"], ["common", "w3"]], {"per_token_topk": 3}),
], ids=["term", "terms", "phrase", "or", "topk", "topk_many"])
def test_partition_hits_on_interleaved_batch(idx, monkeypatch, tokens, kw):
    seen = {}
    real = QK.score_blocks

    def spy(spec, tomb, dl_get, blocks):
        seen.update(spec=spec, tomb=tomb, dl_get=dl_get)
        return real(spec, tomb, dl_get, blocks)

    monkeypatch.setattr(QK, "score_blocks", spy)
    local = idx._hits(tokens, _as_pandas=True, **kw)
    monkeypatch.setattr(QK, "score_blocks", real)
    assert len(local)

    batch = _interleaved(idx, sorted({t for tok in tokens for t in tok}))
    got = pd.concat(list(QK.partition_hits(
        seen["spec"], seen["tomb"], seen["dl_get"], [batch])),
        ignore_index=True)
    pd.testing.assert_frame_equal(got, local, check_exact=True)
