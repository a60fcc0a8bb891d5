"""query_kernel.rank_by_token: ranking every row together (one token, or
OR-combined rows) keeps exactly the rows and ranks of the per-token
ranking over a single token, ties on score included."""
import numpy as np

from searcharray_spark import query_kernel as QK


def test_all_rows_rank_equals_single_token_rank():
    rng = np.random.default_rng(7)
    for _ in range(500):
        n = int(rng.integers(0, 80))
        k = int(rng.integers(1, 15))
        cols = {"token_idx": rng.integers(0, 4, n).astype(np.int32),
                "doc_id": rng.permutation(10_000)[:n].astype(np.int64),
                "tf": rng.random(n).astype(np.float32),
                # few distinct scores: the kth score is usually a tie
                "score": (rng.integers(0, 6, n) / 3).astype(np.float32)}
        one = dict(cols, token_idx=np.zeros(n, dtype=np.int32))
        want = QK.rank_by_token(one, k)
        got = QK.rank_by_token(cols, k, per_token=False)
        assert np.array_equal(got["rank"], want["rank"])
        for c in ("doc_id", "tf", "score"):
            assert np.array_equal(got[c], want[c]), c
        # token_idx is carried, not ranked on
        pos = {d: i for i, d in enumerate(cols["doc_id"].tolist())}
        assert got["token_idx"].tolist() == [
            int(cols["token_idx"][pos[d]]) for d in got["doc_id"].tolist()]
