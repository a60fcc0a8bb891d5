"""Result oracle computed outside the engine, from the generated texts.

Scores are Lucene-9 BM25 (k1=1.2, b=0.75) in float32, written here from
the formula rather than imported: idf = sum over the clause's terms of
ln(1 + (N - df + 0.5) / (df + 0.5)); a clause's score is
idf * tf / (tf + k1 * (1 - b + b * dl / avgdl)); an OR query sums its
clauses. A term clause's tf is the term frequency, an exact phrase's is
the number of positions where the phrase starts.

Checks:
- term, OR and distinct-term phrase queries: the returned top-k must be
  a valid top-k of the oracle scores, tie-aware (``check_topk``);
- phrases that repeat a term (the engine counts non-overlapping runs)
  and slop-2 queries: every returned doc must contain a match, the
  result size must be min(k, matching docs), and scores must not rise.
"""
from __future__ import annotations

from collections import Counter, defaultdict
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)
RTOL = 1e-4
ATOL = 1e-5

Hit = Tuple[int, float]  # (doc_id, score)


class Corpus:
    """The live documents; queries run on a flat token array of them,
    rebuilt after the documents change."""

    def __init__(self, texts: Dict[int, str]):
        self.tokens: Dict[int, List[str]] = {
            d: t.split() for d, t in texts.items()}
        self._flat: Optional[_Flat] = None

    def put(self, doc: int, text: str) -> None:
        self.tokens[doc] = text.split()
        self._flat = None

    def remove(self, doc: int) -> None:
        self.tokens.pop(doc, None)
        self._flat = None

    @property
    def flat(self) -> "_Flat":
        if self._flat is None:
            self._flat = _Flat(self.tokens)
        return self._flat

    # --- scoring --------------------------------------------------------
    def clause_scores(self, clause) -> Dict[int, float]:
        """BM25 of a term or exact phrase: tf is the term frequency or
        the number of positions where the phrase starts."""
        terms = [clause] if isinstance(clause, str) else list(clause)
        f = self.flat
        tf = f.phrase_tf(terms)
        hit = np.flatnonzero(tf)
        if not len(hit):
            return {}
        n = np.float32(len(f.ids))
        dfs = np.asarray([np.count_nonzero(f.phrase_tf([t])) for t in terms],
                         dtype=np.float32)
        idf = np.float32(np.sum(np.log(
            np.float32(1) + (n - dfs + np.float32(0.5))
            / (dfs + np.float32(0.5)))))
        tf = tf[hit].astype(np.float32)
        dl = f.lens[hit].astype(np.float32)
        avgdl = np.float32(f.lens.sum() / len(f.ids))
        s = tf / (tf + K1 * ((np.float32(1) - B) + B * (dl / avgdl))) * idf
        return dict(zip(f.ids[hit].tolist(), s.astype(np.float32).tolist()))

    def or_scores(self, clauses) -> Dict[int, float]:
        out: Dict[int, float] = defaultdict(float)
        for c in clauses:
            for d, s in self.clause_scores(c).items():
                out[d] += s
        return dict(out)

    # --- structural matches --------------------------------------------
    def phrase_docs(self, phrase: Sequence[str]) -> set:
        f = self.flat
        return set(f.ids[np.flatnonzero(f.phrase_tf(phrase))].tolist())

    def window_docs(self, phrase: Sequence[str], slop: int) -> set:
        """Docs with a window of width <= len(phrase) - 1 + slop covering
        every phrase term with its multiplicity (order-free)."""
        f = self.flat
        width = len(phrase) - 1 + slop
        i = np.arange(len(f.tok))
        last = np.minimum(i + width, f.doc_end - 1)  # window [i, last]
        ok = np.ones(len(f.tok), dtype=bool)
        for t, c in Counter(phrase).items():
            cs = np.concatenate(([0], np.cumsum(f.tok == f.code(t))))
            ok &= cs[last + 1] - cs[i] >= c
        return set(f.ids[np.unique(f.doc_of[ok])].tolist())


class _Flat:
    """Documents in doc id order as one array of term codes."""

    def __init__(self, tokens: Dict[int, List[str]]):
        self.ids = np.asarray(sorted(tokens), dtype=np.int64)
        self.lens = np.asarray([len(tokens[d]) for d in self.ids.tolist()],
                               dtype=np.int64)
        self.codes: Dict[str, int] = {}
        total = int(self.lens.sum())
        self.tok = np.fromiter(
            (self.codes.setdefault(w, len(self.codes))
             for d in self.ids.tolist() for w in tokens[d]),
            dtype=np.int64, count=total)
        self.doc_of = np.repeat(np.arange(len(self.ids)), self.lens)
        self.doc_end = np.repeat(np.cumsum(self.lens), self.lens)

    def code(self, term: str) -> int:
        return self.codes.get(term, -1)

    def phrase_tf(self, phrase: Sequence[str]) -> np.ndarray:
        """Per doc, the positions where ``phrase`` starts."""
        m = len(phrase)
        n = len(self.tok) - m + 1
        if n <= 0:
            return np.zeros(len(self.ids), dtype=np.int64)
        hit = np.arange(n) + m <= self.doc_end[:n]
        for j, t in enumerate(phrase):
            hit &= self.tok[j:j + n] == self.code(t)
        return np.bincount(self.doc_of[:n][hit], minlength=len(self.ids))


def check_topk(got: Sequence[Hit], scores: Dict[int, float], k: int) -> bool:
    """``got`` is a valid top-k of ``scores``: right size, every score
    matches, scores never rise, and no doc left out beats the k-th
    (docs tied with the k-th may be swapped in either way)."""
    if len(got) != min(k, len(scores)):
        return False
    prev = float("inf")
    for d, s in got:
        want = scores.get(d)
        if want is None or abs(s - want) > ATOL + RTOL * abs(want):
            return False
        if s > prev + ATOL + RTOL * abs(prev):
            return False
        prev = s
    if not got:
        return True
    kth = got[-1][1]
    ids = {d for d, _ in got}
    return all(d in ids for d, s in scores.items()
               if s > kth + ATOL + RTOL * abs(kth))


def check_matches(got: Sequence[Hit], docs, k: int, contains) -> bool:
    """Structural check for shapes scored by engine-specific counts."""
    if len(got) != min(k, len(docs)):
        return False
    scores = [s for _, s in got]
    if any(b > a + ATOL + RTOL * abs(a) for a, b in zip(scores, scores[1:])):
        return False
    return all(contains(d) for d, _ in got)


def expect(corpus: Corpus, q):
    """Predicate over one engine result for query ``q`` (``got``: list
    of (doc, score), or for a batch one such list per clause), computed
    once so repeated results of the same query are cheap to check."""
    if q.call == "top_k_many":
        parts = [_expect_clause(corpus, c, 0) for c in q.tokens]
        return lambda got, k: len(got) == len(parts) and all(
            p(g, k) for p, g in zip(parts, got))
    if q.call == "top_k_pruned":
        scores = corpus.or_scores(q.tokens)
        return lambda got, k: check_topk(got, scores, k)
    return _expect_clause(corpus, q.tokens[0], q.slop)


def _expect_clause(corpus: Corpus, clause, slop: int):
    terms = [clause] if isinstance(clause, str) else list(clause)
    if slop:
        docs = corpus.window_docs(terms, slop)
        return lambda got, k: check_matches(got, docs, k, docs.__contains__)
    if any(a == b for a, b in zip(terms, terms[1:])):
        docs = corpus.phrase_docs(terms)
        return lambda got, k: check_matches(got, docs, k, docs.__contains__)
    scores = corpus.clause_scores(clause)
    return lambda got, k: check_topk(got, scores, k)
