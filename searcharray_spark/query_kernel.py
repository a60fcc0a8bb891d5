"""Block-scoring kernel shared by every query route.

The reference scores every query shape with one set of postings kernels
(reference postings.py:607-708). Here that job is split by doc block:
one query's constants travel as a ``QuerySpec``, and each block's
posting rows are merged under the tombstone rule (``merge_rows``),
reduced to per-token freqs (``token_freqs``: term, phrase, slop,
position window, candidate and MaxScore semi-joins), scored
(``token_scores``) and optionally OR-combined per doc (``combine_or``)
by ``score_block``. ``partition_hits`` is the scan body of both
routes (``SearchIndex._scan``): the distributed route runs it under
``mapInPandas`` over the pruned postings scan, the driver-local route
calls it on one batch of driver-held column slices. Both routes
therefore return bit-identical rows for every query shape.

Top-k queries (``per_token_topk``) keep a running top-k while scoring,
and an OR top-k with block bounds (``bounds``) also skips blocks that
cannot reach it; see ``score_blocks``.
"""
from __future__ import annotations

from typing import NamedTuple, Optional

import numpy as np
import pandas as pd

from . import kernels as K

HITS_COLUMNS = ("token_idx", "doc_id", "tf", "score")
_EMPTY_U64 = np.zeros(0, dtype=np.uint64)


class QuerySpec(NamedTuple):
    """Per-query constants: every block of one query is scored with
    these (shipped once per task inside the kernel closure)."""
    tokens: list               # query tokens; a token of >1 terms is a phrase
    dfs: dict                  # term -> doc freq (tombstone-corrected)
    num_docs: int
    avgdl: float
    docs_per_block: int
    sim_fn: object
    slop: int = 0
    min_posn: Optional[int] = None
    max_posn: Optional[int] = None
    or_combine: bool = False   # one row per doc: token count + summed tf/score
    per_token_topk: Optional[int] = None
    # per-token (block ids asc, score upper bounds) of an or_combine
    # top-k (SearchIndex._block_bounds): block-max pruning + MaxScore
    bounds: Optional[list] = None


# --- tombstones ------------------------------------------------------------

def tombstoned(tomb, block_id: int, seg: int) -> Optional[np.ndarray]:
    """Sorted local doc ids that a posting/doclens row of segment ``seg``
    in ``block_id`` must drop: those whose newest tombstone is from a
    LATER epoch than the row. So an update kills older content while its
    own rows survive, and re-adding a deleted doc resurrects it.
    ``tomb.get(block)`` gives (sorted local ids, max seg per id): the
    tombstone SideReader (index.py), which reads the block from the
    tombstone files covering it. None when the row loses nothing."""
    t_entry = tomb.get(int(block_id)) if tomb else None
    if t_entry is None:
        return None
    excl = t_entry[0][t_entry[1] > int(seg)]
    return excl if len(excl) else None


def live_postings(tomb, block_id: int, seg: int, raw) -> np.ndarray:
    """One posting row's packed words minus its tombstoned docs."""
    arr = K.from_bytes(raw)
    excl = tombstoned(tomb, block_id, seg)
    return arr if excl is None else K.exclude_keys(arr, excl)


def killed_docs(tomb, block_id: int, seg: int, raw) -> int:
    """Docs of one posting row that a later tombstone kills: the row's
    share of its term's df correction."""
    excl = tombstoned(tomb, block_id, seg)
    if excl is None:
        return 0
    arr = K.from_bytes(raw)
    return K.docfreq(arr) - K.docfreq(K.exclude_keys(arr, excl))


def merge_rows(rows, tomb, block_id: int,
               keep: Optional[np.ndarray] = None) -> dict:
    """(term, postings bytes, seg) rows of ONE block -> {term: packed
    words}. Each row drops its tombstoned docs (and, given ``keep``,
    sorted local doc ids, every doc not in it), then ONE or_merge per
    term: hot terms arrive as many chunked rows (a pairwise merge would
    re-walk the growing array per chunk), and update-segment rows may
    share headers, which or_merge unions."""
    parts: dict = {}
    for term, raw, seg in rows:
        arr = live_postings(tomb, block_id, seg, raw)
        if keep is not None:
            arr = K.slice_keys(arr, keep)
        parts.setdefault(term, []).append(arr)
    return {term: (arrs[0] if len(arrs) == 1
                   else K.or_merge(np.concatenate(arrs)))
            for term, arrs in parts.items()}


# --- per-block scoring -----------------------------------------------------

def token_freqs(spec: QuerySpec, packed: dict, tok, cand_ids=None,
                restrict=None):
    """(sorted local doc ids, tfs > 0) of one query token in one block,
    or None. ``cand_ids`` and ``restrict`` (sorted local ids) semi-join
    the postings before freq computation: the candidates filter
    (reference FilteredPosns, postings.py:344-358) and the MaxScore
    skip."""
    encoded = [packed.get(t, _EMPTY_U64) for t in tok]
    for keep in (cand_ids, restrict):
        if keep is not None:
            encoded = [K.slice_keys(e, keep) for e in encoded]
    if spec.min_posn is not None or spec.max_posn is not None:
        encoded = [K.slice_posn_window(e, spec.min_posn, spec.max_posn)
                   for e in encoded]
    if len(tok) == 1:
        ids, tfs = K.termfreqs(encoded[0])
    elif spec.slop == 0:
        ids, tfs = K.phrase_freqs(encoded)
    else:
        from .spans import span_freqs
        ids, tfs = span_freqs(encoded, spec.slop)
    keep = tfs > 0
    if not keep.any():
        return None
    return ids[keep], tfs[keep]


def _block_ubs(spec: QuerySpec, block_ids) -> np.ndarray:
    """Every query token's score upper bound (column) in each block
    (row), from the per-token (blocks, ubs) arrays
    SearchIndex._block_bounds builds; 0.0 where the sketch says the
    token is absent from the block."""
    ids = np.asarray(block_ids, dtype=np.int64)
    out = np.zeros((len(ids), len(spec.bounds)))
    for j, (bl, ub) in enumerate(spec.bounds):
        if len(bl):
            pos = np.minimum(np.searchsorted(bl, ids), len(bl) - 1)
            out[:, j] = np.where(bl[pos] == ids, ub[pos], 0.0)
    return out


def _maxscore_hits(spec: QuerySpec, ubs: np.ndarray, packed: dict,
                   cand_ids, theta: float) -> list:
    """Term-level MaxScore inside the kernel (Turtle & Flood 1995): with
    theta = the running kth score, tokens whose upper bounds can't SUM
    to theta are non-essential. A doc matching only those can't enter
    the top-k, so their (hot) postings are semi-joined to the essential
    tokens' doc set instead of fully decoded. Bounds carry the (1+eps)
    inflation from _block_bounds, so every drop is strict (rank-identity
    preserved, tests/test_wand.py). ``ubs``: the block's row of
    _block_ubs."""
    order = np.argsort(-ubs, kind="stable")
    n = n_ess = len(order)
    for ce in range(1, n + 1):
        after = float(ubs[order[ce:]].sum()) if ce < n else 0.0
        if after < theta:
            n_ess = ce
            break
    hits = []
    for j in order[:n_ess]:
        r = token_freqs(spec, packed, spec.tokens[j], cand_ids)
        if r is not None:
            hits.append((int(j),) + r)
    if not hits:
        return []
    restrict = np.unique(np.concatenate([h[1] for h in hits]))
    for j in order[n_ess:]:
        if ubs[j] <= 0.0:
            continue  # sketch says token absent from block
        r = token_freqs(spec, packed, spec.tokens[j], cand_ids, restrict)
        if r is not None:
            hits.append((int(j),) + r)
    hits.sort(key=lambda h: h[0])
    return hits


def token_scores(spec: QuerySpec, j: int, ids, tfs, dl_ids,
                 dl_lens) -> np.ndarray:
    """float32 similarity of token ``j`` for its matching docs (local
    ids) with float32 ``tfs``; a phrase's idf sums its terms' dfs
    (reference postings.py:652-680)."""
    dls = dl_lens[np.searchsorted(dl_ids, ids)]
    tok_dfs = np.asarray([spec.dfs[t] for t in spec.tokens[j]],
                         dtype=np.float32)
    # copy: reference-style similarities (bm25.pyx) mutate term_freqs in
    # place; the tf column must stay raw tfs
    return np.asarray(spec.sim_fn(tfs.copy(), tok_dfs, dls, spec.avgdl,
                                  spec.num_docs), dtype=np.float32)


def combine_or(doc, tf, score) -> tuple:
    """OR-combine one block's per-token rows: one row per doc with the
    matching-token count (in token_idx, for mm) and tf/score sums
    (float64 sums cast to float32). Exact because every token of a block
    is scored in one kernel call on every route."""
    uids, inv = np.unique(doc, return_inverse=True)
    ssum = np.zeros(len(uids), dtype=np.float64)
    np.add.at(ssum, inv, score.astype(np.float64))
    tsum = np.zeros(len(uids), dtype=np.float64)
    np.add.at(tsum, inv, tf.astype(np.float64))
    nmatch = np.bincount(inv, minlength=len(uids)).astype(np.int32)
    return nmatch, uids, tsum.astype(np.float32), ssum.astype(np.float32)


def score_block(spec: QuerySpec, block_id: int, packed: dict, dl_raw,
                cand_raw=None, ubs=None, theta: Optional[float] = None):
    """(token_idx, doc_id, tf, score) arrays for one block, or None.
    ``packed`` is merge_rows' output, ``dl_raw`` the block's packed
    doclens (ids bytes, lens bytes), ``cand_raw`` its packed candidate
    local ids; ``ubs`` (the tokens' bounds in the block) and ``theta``
    (the running kth score) of a bounded OR top-k set the MaxScore
    split."""
    dl_ids = np.frombuffer(dl_raw[0], dtype="<i8")
    dl_lens = np.frombuffer(dl_raw[1], dtype="<f4")
    cand_ids = (np.frombuffer(cand_raw, dtype="<i8")
                if cand_raw is not None else None)
    if theta is not None:
        hits = _maxscore_hits(spec, ubs, packed, cand_ids, theta)
    else:
        hits = []
        for j, tok in enumerate(spec.tokens):
            r = token_freqs(spec, packed, tok, cand_ids)
            if r is not None:
                hits.append((j,) + r)
    if not hits:
        return None
    base = block_id * spec.docs_per_block
    tfs = [h[2].astype(np.float32) for h in hits]
    tok = np.concatenate([np.full(len(ids), j, dtype=np.int32)
                          for j, ids, _ in hits])
    doc = np.concatenate([ids + base for _, ids, _ in hits])
    tf = np.concatenate(tfs)
    score = np.concatenate([
        token_scores(spec, j, ids, t, dl_ids, dl_lens)
        for (j, ids, _), t in zip(hits, tfs)])
    if spec.or_combine:
        return combine_or(doc, tf, score)
    return tok, doc, tf, score


# a running top-k cuts once this many rows are held uncut (and at the
# end): each cut ranks >= this many rows, so a scan of many small blocks
# does not pay one concatenate + rank per block
_CUT_ROWS = 1 << 16


def score_blocks(spec: QuerySpec, tomb, dl_get, blocks) -> list:
    """score_block over (block_id, rows, cand_raw) triples, each block's
    (term, postings, seg) rows merged first; a block without doclens
    (``dl_get`` returns None) holds no live docs and is skipped.

    With ``per_token_topk`` the results are cut to each token's top-k
    under (score desc, doc_id asc), ranked over ALL rows under
    ``or_combine`` (token_idx holds the match count there), whenever
    more than _CUT_ROWS rows are held uncut and once at the end: a
    call holds at most k rows per token plus _CUT_ROWS and one block's
    rows, whatever it scans.

    With ``bounds`` (an OR top-k), blocks are visited in descending
    order of their bound, the sum of the tokens' upper bounds. Once k
    docs are scored, theta = the kth best score: the visit stops at the
    first block whose bound is strictly below theta, and theta feeds
    the MaxScore split of every later block. Exact, because:
    - every block's rows sit in one partition (scan-aligned files, else
      the plan repartitions by block_id), so a doc's score is complete;
    - a global top-k doc is in its own partition's top-k;
    - a partition's theta is never above the global kth score;
    - bounds carry _block_bounds' (1+eps) inflation, so a skipped block
      holds no doc scoring theta or more (no tie is lost either).
    Blocks below theta were already read by the scan; they are only
    not decoded or scored."""
    k = spec.per_token_topk
    held: list = []
    best = np.zeros(0, dtype=np.float32)  # the k best scores (bounds only)
    theta = None
    uncut = 0
    if spec.bounds is not None:
        blocks = list(blocks)
        ubs = _block_ubs(spec, [blk[0] for blk in blocks])
        bound = ubs.sum(axis=1)
        blocks = [(bound[i], ubs[i], blocks[i])
                  for i in np.argsort(-bound, kind="stable")]
    else:
        blocks = ((None, None, blk) for blk in blocks)
    for bound, ub, (block_id, rows, cand_raw) in blocks:
        if theta is not None and bound < theta:
            break  # every later block's bound is lower still
        dl_raw = dl_get(block_id)
        if dl_raw is None:
            continue
        r = score_block(spec, block_id, merge_rows(rows, tomb, block_id),
                        dl_raw, cand_raw, ub, theta)
        if r is None:
            continue
        held.append(r)
        uncut += len(r[3])
        if bound is not None and k:
            # or_combine: one row per doc, so the kth best row score is
            # the kth best doc score
            best = np.concatenate((best, r[3]))
            if len(best) >= k:
                best = np.partition(best, len(best) - k)[-k:]
                theta = float(best[0])
        if k is not None and uncut > _CUT_ROWS:
            held, uncut = [_top_rows(spec, held)], 0
    if k is not None and uncut:
        held = [_top_rows(spec, held)]
    return held


def _top_rows(spec: QuerySpec, outs: list) -> tuple:
    """score_block results cut to each token's top-k (all rows' top-k
    under or_combine), in rank order."""
    cols = dict(zip(HITS_COLUMNS, (np.concatenate(c) for c in zip(*outs))))
    cols = rank_hits(cols, spec.per_token_topk, spec.or_combine,
                     len(spec.tokens))
    return tuple(cols[c] for c in HITS_COLUMNS)


# --- results ---------------------------------------------------------------

def rank_by_token(cols: dict, k: int, per_token: bool = True) -> dict:
    """Rank the rows of ``cols`` (parallel numpy arrays, among them
    token_idx, doc_id and score) within each token_idx under (score
    desc, doc_id asc), the total order of the reference's SetOfResults
    (utils/sort.py:21-45), and keep ranks <= k. ``per_token=False``
    ranks every row together (one query token, or OR-combined rows,
    whose token_idx is a match count). Returns the kept rows' arrays
    plus an int32 ``rank`` array (1-based). float32 -> float64 is exact,
    so the order matches Spark's on the same float column."""
    keys = (cols["doc_id"], -cols["score"].astype(np.float64))
    if per_token:
        ti = cols["token_idx"]
        order = np.lexsort(keys + (ti,))
        ti = ti[order]
        starts = np.concatenate(([0], np.flatnonzero(np.diff(ti)) + 1))
        widths = np.diff(np.concatenate((starts, [len(ti)])))
        rank = np.arange(len(ti)) - np.repeat(starts, widths) + 1
        keep = rank <= k
        order, rank = order[keep], rank[keep]
    else:
        order = np.arange(len(keys[1]))
        if len(order) > k:  # only rows tying or beating the kth score rank
            order = np.flatnonzero(
                keys[1] <= np.partition(keys[1], k - 1)[k - 1])
        order = order[np.lexsort(tuple(a[order] for a in keys))][:k]
        rank = np.arange(1, len(order) + 1)
    out = {c: a[order] for c, a in cols.items()}
    out["rank"] = rank.astype(np.int32)
    return out


def rank_hits(cols: dict, k: int, or_combine: bool, n_tokens: int) -> dict:
    """The top-k rule of the kernel's running cut and of the driver
    merge alike: rank_by_token per token, except that one token's rows
    and OR-combined rows (token_idx = match count) rank together."""
    return rank_by_token(cols, k, per_token=not or_combine and n_tokens > 1)


def hits_frame(outs: list) -> pd.DataFrame:
    """One hits frame (HITS_COLUMNS) from score_block results (at least
    one)."""
    return pd.DataFrame({c: np.concatenate([o[i] for o in outs])
                         for i, c in enumerate(HITS_COLUMNS)})


def _frame_blocks(batch):
    """(block_id, rows, cand_raw) per block of one scan batch, blocks
    ascending and each block's rows in scan order: a stable argsort of
    block_id split where it changes (no pandas groupby). ``batch`` maps
    column names to arrays: a pandas frame on the distributed route,
    numpy column slices on the driver-local one."""
    blocks = np.asarray(batch["block_id"], dtype=np.int64)
    order = np.argsort(blocks, kind="stable")
    blocks = blocks[order]
    cols = [np.asarray(batch[c])[order].tolist()
            for c in ("term", "postings", "seg")]
    cand = np.asarray(batch["cand"])[order] if "cand" in batch else None
    starts = np.flatnonzero(np.diff(blocks, prepend=-1))
    for s, e in zip(starts.tolist(), np.append(starts[1:], len(blocks))
                    .tolist()):
        yield (int(blocks[s]), zip(*(c[s:e] for c in cols)),
               cand[s] if cand is not None else None)


def whole_partition(batches) -> list:
    """A partition's non-empty scan batches as at most one batch, so
    every block's rows are together: a block's rows may span batches."""
    batches = [b for b in batches if len(b["block_id"])]
    return [pd.concat(batches)] if len(batches) > 1 else batches


def partition_hits(spec: QuerySpec, tomb, dl_get, batches):
    """The scoring body of ``SearchIndex._scan`` over pruned posting
    rows (term, block_id, postings, seg[, cand]); every block's rows
    must sit in this one partition (scan-aligned files, else the plan
    repartitions by block_id first; the driver-local route passes one
    batch).

    Single-term rows score independently, so they stream: each batch's
    rows (with per_token_topk, each token's top-k of the batch) leave
    the task as soon as the batch is scored, so the driver merges at
    most k x tokens rows per batch. Phrases and OR-combine must see
    every query term of a block at once: the partition's batches are
    concatenated first (bounded: only the query terms' rows are in the
    scan)."""
    if spec.or_combine or any(len(t) > 1 for t in spec.tokens):
        batches = whole_partition(batches)
    for batch in batches:
        held = score_blocks(spec, tomb, dl_get, _frame_blocks(batch))
        if held:
            yield hits_frame(held)
