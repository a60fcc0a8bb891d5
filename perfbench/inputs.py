"""Seeded inputs: the corpus, the query mix and the maintenance batches.

The corpus is the repository's own synthetic crawl
(``webcorpus.generate_corpus``: Zipf-ranked vocabulary, exponent 1.07)
written to parquet; the engine reads only that parquet. Queries are drawn
from Zipf rank classes of the same vocabulary, so hot terms are the
corpus's most frequent ones and absent terms never occur.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import List, Tuple, Union

import numpy as np
import pyarrow.parquet as pq

from searcharray_spark import webcorpus

Token = Union[str, Tuple[str, ...]]

# Query shapes, each a (engine call, shape) pair; the mix cycles them in
# this order. Metric names are built from the pair.
SHAPES = (
    ("top_k", "term_hot"), ("top_k", "term_mid"), ("top_k", "term_rare"),
    ("top_k", "term_absent"), ("top_k", "phrase2"), ("top_k", "phrase3"),
    ("top_k", "phrase_same"), ("top_k", "slop2"),
    ("top_k_pruned", "or3"), ("top_k_many", "batch"),
)
K = 10


@dataclass(frozen=True)
class Query:
    call: str          # top_k | top_k_pruned | top_k_many
    shape: str
    tokens: tuple      # one Token per clause (top_k: exactly one)
    slop: int = 0


def write_corpus(spark, n_docs: int, seed: int, vocab_size: int,
                 path: str) -> None:
    webcorpus.generate_corpus(spark, n_docs, seed=seed,
                              vocab_size=vocab_size) \
        .select("doc_id", "text").write.mode("overwrite").parquet(path)


def read_texts(path: str) -> dict:
    """doc_id -> text, read with pyarrow (outside the engine)."""
    t = pq.read_table(path, columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


class RankClasses:
    """Terms of a generated vocabulary grouped by Zipf rank."""

    def __init__(self, vocab_size: int):
        vocab = webcorpus.make_vocab(vocab_size)
        mid = max(10, vocab_size // 300)
        self.hot = vocab[:10]
        self.mid = vocab[mid:max(mid + 20, vocab_size // 30)]
        self.rare = vocab[vocab_size // 6:]


def query_mix(seed: int, vocab_size: int, per_shape: int = 8) -> List[Query]:
    """``per_shape`` queries of each shape, interleaved. Hot terms, whose
    queries cost the most, are taken at fixed ranks, so every seed asks
    for the same work; mid and rare terms are drawn per seed, one from
    each of ``per_shape`` equal rank bands of their class. Clients cycle
    through this working set. Many
    queries per shape keep the latency distribution free of wide gaps, so
    its percentiles do not jump between two queries' latencies."""
    rng = np.random.default_rng(seed)
    rc = RankClasses(vocab_size)

    def hot(*ranks):
        return tuple(rc.hot[r % len(rc.hot)] for r in ranks)

    def band(pool, i):
        lo, hi = len(pool) * i // per_shape, len(pool) * (i + 1) // per_shape
        return (str(pool[int(rng.integers(lo, hi))]),)

    out = []
    for i in range(per_shape):
        h = i * len(rc.hot) // per_shape
        for call, shape in SHAPES:
            if shape == "term_hot":
                toks = hot(h)
            elif shape == "term_mid":
                toks = band(rc.mid, i)
            elif shape == "term_rare":
                toks = band(rc.rare, i)
            elif shape == "term_absent":
                toks = (f"zz{int(rng.integers(1 << 30)):09d}",)
            elif shape == "phrase2":
                toks = (hot(h, h + 1),)
            elif shape == "slop2":
                toks = (hot(h, h + 2),)
            elif shape == "phrase3":
                toks = (hot(h, h + 3, h + 6),)
            elif shape == "phrase_same":
                toks = (hot(h, h),)
            elif shape == "or3":
                toks = hot(h) + band(rc.mid, i) + band(rc.rare, i)
            else:  # batch: four clauses, one of them a hot phrase
                toks = hot(h + 1) + band(rc.mid, i) + band(rc.rare, i) \
                    + (hot(h + 1, h),)
            out.append(Query(call, shape, toks,
                             slop=2 if shape == "slop2" else 0))
    return out


def random_texts(rng: np.random.Generator, n: int, vocab_size: int,
                 avg_len: int = 60) -> List[str]:
    """Texts drawn like the corpus generator's (same Zipf exponent and
    length range), for update batches."""
    vocab = np.array(webcorpus.make_vocab(vocab_size), dtype=object)
    p = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** 1.07
    cum = np.cumsum(p / p.sum())
    lens = rng.integers(max(2, avg_len // 6), avg_len * 2 - avg_len // 6, n)
    words = vocab[np.searchsorted(cum, rng.random(int(lens.sum())))]
    cuts = np.concatenate(([0], np.cumsum(lens)))
    return [" ".join(words[a:b]) for a, b in zip(cuts[:-1], cuts[1:])]


def maintenance_batch(rng: np.random.Generator, live: np.ndarray,
                      n_update: int, n_delete: int, vocab_size: int):
    """(update ids, update texts, delete ids): disjoint, drawn from the
    live doc ids."""
    pick = rng.choice(live, size=n_update + n_delete, replace=False)
    upd = np.sort(pick[:n_update])
    return upd, random_texts(rng, n_update, vocab_size), np.sort(pick[n_update:])

