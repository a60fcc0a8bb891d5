"""Doc-major row surface: ``Terms`` scalar + take / value_counts /
unique / elementwise equality over a :class:`SearchIndex`.

Reference parity (semantics only; fresh implementation):
  - ``Terms`` scalar — reference postings.py:57-166 (termfreq/terms/
    positions, __eq__ on (postings, doc_len), sparse-lexical __lt__,
    postings-only __hash__).
  - ``__getitem__(int)`` row view — postings.py:329-343 (P1).
  - ``take`` with fill — postings.py:509-530 (P3; -1 fills an empty
    ``Terms``).
  - elementwise ``__eq__`` — postings.py:448-488 (P5; per-doc equality
    of term freqs AND doc length. The reference short-circuits on
    term-dict incompatibility — a global-dictionary artifact this
    engine has no counterpart for; equality here is content-based,
    which is strictly more precise).
  - ``value_counts`` / ``unique`` — postings.py:427-436,495-507 (P7;
    a Counter keyed on (postings, doc_len): Terms.__hash__ covers only
    postings, but Counter equality also demands doc_len).

Spark-first shape: nothing doc-major is stored. The doc-major view is
DERIVED on demand from the packed term-major postings (SURVEY A5
"derive on demand"): one per-block scan body (``_block_scan``) groups
each scan batch into blocks (``query_kernel._frame_blocks``) and runs
the scoring path's merge (``query_kernel.merge_rows``: tombstone
exclusion, chunk or_merge) before the decode kernels. It reads through
the one postings scan, ``SearchIndex._scan``: driver-held column slices
with zero Spark jobs on small indexes, else one ``mapInPandas``
(zero-shuffle on scan-aligned files, else after a repartition by
block_id). Bags are canonicalized as SORTED array<struct<term,tf>> —
map columns are not equality-comparable in Spark SQL, sorted entry
arrays are, so every downstream op (value_counts grouping, unique,
rowwise equality joins) stays JVM-side. Row materialization
(``doc``/``take``) decodes only the touched blocks.
"""
from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from . import kernels as K
from . import query_kernel as QK

DOC_TERMFREQS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("term", StringType()),
    StructField("tf", LongType()),
])

DOC_ROWS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("term", StringType()),
    StructField("posns", ArrayType(IntegerType())),
])


class Terms:
    """One indexed doc as a scalar: bag of (term -> tf) + optional
    decoded positions (reference Terms, postings.py:57-166)."""

    __slots__ = ("postings", "doc_len", "posns")

    def __init__(self, postings: Optional[Dict[str, int]] = None,
                 doc_len: int = 0,
                 posns: Optional[Dict[str, np.ndarray]] = None):
        self.postings = dict(postings) if postings else {}
        self.doc_len = int(doc_len)
        self.posns = posns

    def termfreq(self, token: str) -> int:
        return self.postings[token]

    def terms(self):
        return self.postings.items()

    def positions(self, term: Optional[str] = None):
        if self.posns is None:
            return {}
        if term is None:
            return self.posns.items()
        return self.posns[term]

    def __len__(self) -> int:
        return len(self.postings)

    def __repr__(self) -> str:
        return f"Terms({set(self.postings.keys())})"

    __str__ = __repr__

    def __eq__(self, other) -> bool:
        # same term freqs AND same doc length (postings.py:121-128)
        return (isinstance(other, Terms)
                and self.postings == other.postings
                and self.doc_len == other.doc_len)

    def __lt__(self, other) -> bool:
        # sparse lexical compare over the union of terms
        # (postings.py:130-159): treat both as sparse tf vectors indexed
        # by sorted term, first differing coordinate decides
        if not isinstance(other, Terms):
            return NotImplemented
        for key in sorted(set(self.postings) | set(other.postings)):
            lhs = self.postings.get(key, 0)
            rhs = other.postings.get(key, 0)
            if lhs != rhs:
                return lhs < rhs
        return False

    def __le__(self, other) -> bool:
        if not isinstance(other, Terms):
            return NotImplemented
        return self < other or self == other

    def __gt__(self, other) -> bool:
        if not isinstance(other, Terms):
            return NotImplemented
        return not (self < other) and self != other

    def __ge__(self, other) -> bool:
        if not isinstance(other, Terms):
            return NotImplemented
        return not (self < other)

    def __hash__(self) -> int:
        # postings-only, like the reference's json-dump hash
        # (postings.py:165-166); equality still checks doc_len
        return hash(tuple(sorted(self.postings.items())))

    def isna(self) -> bool:
        return not self.postings and self.doc_len == 0


_EMPTY_TERMS = Terms({})


def _block_termfreq_frames(block_id: int, merged: dict, dpb: int):
    base = int(block_id) * dpb
    for term, arr in merged.items():
        ids, tfs = K.termfreqs(arr)
        if len(ids):
            yield pd.DataFrame({"doc_id": ids + base, "term": term,
                                "tf": tfs.astype(np.int64)})


def _block_posn_frames(block_id: int, merged: dict, dpb: int):
    base = int(block_id) * dpb
    for term, arr in merged.items():
        ids, posns = K.decode(arr)
        if not len(ids):
            continue
        starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(ids)) + 1, [len(ids)]))
        yield pd.DataFrame({
            "doc_id": ids[starts[:-1]] + base,
            "term": term,
            "posns": [posns[s:e].astype(np.int32)
                      for s, e in zip(starts[:-1], starts[1:])],
        })


def _block_scan(idx, per_block, schema, want: Optional[np.ndarray],
                as_pandas: bool = False):
    """``per_block(block_id, merged) -> iter[pd.DataFrame]`` over every
    block through the one postings scan (``SearchIndex._scan``).
    ``merged`` is the block's ``query_kernel.merge_rows`` output: every
    term's live postings, restricted to ``want`` (sorted unique doc
    ids, whose blocks alone are scanned) when given. A block's rows
    must meet in one kernel call, so the scan asks for whole blocks and
    each partition's batches are taken together."""
    dpb = idx.docs_per_block
    tomb = idx._tombstones()

    def body(batches):
        for batch in QK.whole_partition(batches):
            for b, rows, _ in QK._frame_blocks(batch):
                keep = None
                if want is not None:
                    keep = want[(want >= b * dpb) & (want < b * dpb + dpb)] \
                        - b * dpb
                    if not len(keep):
                        continue
                yield from per_block(b, QK.merge_rows(rows, tomb, b, keep))

    blocks = None if want is None else np.unique(want // dpb).tolist()
    return idx._scan(body, schema, block_ids=blocks, whole_blocks=True,
                     as_pandas=as_pandas)


def doc_termfreqs(idx, doc_ids: Optional[Sequence[int]] = None) -> DataFrame:
    """(doc_id, term, tf) over live docs — the on-demand doc-major
    derivation (SURVEY A5), via the scoring path's merge + termfreqs
    kernels per block. Zero-shuffle on scan-aligned postings files;
    ``doc_ids`` (optional) restricts to those docs and prunes to their
    blocks."""
    want = None
    if doc_ids is not None:
        want = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    dpb = idx.docs_per_block
    return _block_scan(
        idx, lambda b, merged: _block_termfreq_frames(b, merged, dpb),
        DOC_TERMFREQS_SCHEMA, want)


DOC_BAGS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("tfs", ArrayType(StructType([
        StructField("term", StringType()),
        StructField("tf", LongType()),
    ]))),
])


def _block_bag_frames(block_id: int, merged: dict, dpb: int):
    """Assemble each doc's sorted bag INSIDE the block kernel — map-side
    combine: only O(docs) bag rows (not O(postings) term rows) ever
    leave the scan task."""
    base = int(block_id) * dpb
    id_parts, term_parts, tf_parts = [], [], []
    for term in sorted(merged):
        ids, tfs = K.termfreqs(merged[term])
        if len(ids):
            id_parts.append(ids)
            term_parts.extend([term] * len(ids))
            tf_parts.append(tfs)
    if not id_parts:
        return
    ids = np.concatenate(id_parts)
    tfs = np.concatenate(tf_parts)
    terms = np.asarray(term_parts, dtype=object)
    order = np.argsort(ids, kind="stable")  # stable: keeps term order
    ids, tfs, terms = ids[order], tfs[order], terms[order]
    starts = np.concatenate(
        ([0], np.flatnonzero(np.diff(ids)) + 1, [len(ids)]))
    yield pd.DataFrame({
        "doc_id": ids[starts[:-1]] + base,
        "tfs": [[{"term": str(t), "tf": int(f)}
                 for t, f in zip(terms[s:e], tfs[s:e])]
                for s, e in zip(starts[:-1], starts[1:])],
    })


def doc_terms(idx, doc_ids: Optional[Sequence[int]] = None) -> DataFrame:
    """(doc_id, tfs, doc_len): each live doc's canonical bag — ``tfs``
    is a SORTED array<struct<term,tf>> (Spark's comparable/groupable
    stand-in for a map), ``doc_len`` the live token count. Docs with no
    postings (empty text) appear with an empty array. Bags are built
    in-kernel (zero-shuffle on aligned files); only the O(num_docs)
    doc_len join shuffles."""
    want = None
    if doc_ids is not None:
        want = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    dpb = idx.docs_per_block
    bags = _block_scan(
        idx, lambda b, merged: _block_bag_frames(b, merged, dpb),
        DOC_BAGS_SCHEMA, want)
    stats = idx.docstats.select(
        "doc_id", F.col("doc_len").cast("long").alias("doc_len"))
    if doc_ids is not None:
        ids = [int(d) for d in doc_ids]
        stats = stats.filter(F.col("doc_id").isin(ids))
    empty = F.array().cast("array<struct<term:string,tf:bigint>>")
    return stats.join(bags, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("tfs"), empty).alias("tfs"), "doc_len")


def _doc_rows(idx, ids: np.ndarray) -> Dict[int, Terms]:
    """Materialize Terms scalars (tfs + decoded positions) for the given
    live doc ids, decoding only their blocks."""
    if not len(ids):
        return {}
    dpb = idx.docs_per_block
    pdf = _block_scan(
        idx, lambda b, merged: _block_posn_frames(b, merged, dpb),
        DOC_ROWS_SCHEMA, ids, as_pandas=True)
    live, lens = idx._live_lens(ids)
    out: Dict[int, Terms] = {}
    for i, d in enumerate(ids):
        if live[i]:
            out[int(d)] = Terms({}, doc_len=int(lens[i]), posns={})
    for did, term, posns in zip(pdf["doc_id"].tolist(), pdf["term"],
                                pdf["posns"]):
        t = out.get(did)
        if t is None:
            continue  # dead doc: decoded row raced a tombstone view
        t.postings[term] = len(posns)
        t.posns[term] = np.asarray(posns, dtype=np.int32)
    return out


def doc(idx, doc_id: int) -> Terms:
    """Row view of one live doc (reference __getitem__(int),
    postings.py:329-343): tf + decoded positions per term.
    Raises IndexError for out-of-range / deleted docs."""
    i = int(doc_id)
    if i < 0:
        i += idx.num_docs
    got = _doc_rows(idx, np.asarray([i], dtype=np.int64))
    if i not in got:
        raise IndexError(f"doc {doc_id} is out of range or deleted")
    return got[i]


def take(idx, indices: Sequence[int], allow_fill: bool = False,
         fill_value: Optional[Terms] = None) -> List[Terms]:
    """Row-take with pandas fill semantics (reference take,
    postings.py:509-530): row index == doc id (doc ids are dense row
    positions at build). With ``allow_fill``, -1 and missing/deleted
    docs yield ``fill_value`` (default: empty Terms); without it,
    negative indices count from the end and missing docs raise."""
    n = idx.num_docs
    fill = _EMPTY_TERMS if fill_value is None else fill_value
    resolved: List[int] = []
    for i in indices:
        i = int(i)
        if allow_fill:
            if i < -1:
                raise ValueError(
                    "negative indices other than -1 invalid with allow_fill")
        elif i < 0:
            i += n
        resolved.append(i)
    want = np.unique(np.asarray([i for i in resolved if i >= 0],
                                dtype=np.int64))
    got = _doc_rows(idx, want)
    out: List[Terms] = []
    for i in resolved:
        t = got.get(i)
        if t is None:
            if not allow_fill:
                raise IndexError(f"doc {i} is out of range or deleted")
            t = fill
        out.append(t)
    return out


def value_counts(idx, dropna: bool = True) -> DataFrame:
    """(tfs, doc_len, count): how many docs share each identical bag —
    reference value_counts (postings.py:427-436), whose Counter keys on
    (postings, doc_len). ``dropna`` removes the empty doc, the
    reference's ``counts.pop(Terms({}))``."""
    out = doc_terms(idx).groupBy("tfs", "doc_len").agg(
        F.count("*").alias("count"))
    if dropna:
        out = out.filter((F.size("tfs") > 0) | (F.col("doc_len") > 0))
    return out


def unique_docs(idx) -> DataFrame:
    """(tfs, doc_len) distinct doc bags (reference unique,
    postings.py:495-507 — there a driver-side hack; here one distinct)."""
    return doc_terms(idx).select("tfs", "doc_len").distinct()


def rowwise_eq(idx, other) -> DataFrame:
    """(doc_id, eq): per-doc equality of two indexes — same term freqs
    and same doc length (reference elementwise __eq__,
    postings.py:448-488 + rowwise_eq, utils/row_viewable_matrix.py:7-15).
    Docs present in only one index compare unequal. Content-based: no
    term-dict compatibility gate (see module docstring)."""
    a = doc_terms(idx).select(
        "doc_id", F.col("tfs").alias("tfs_a"), F.col("doc_len").alias("dl_a"))
    b = doc_terms(other).select(
        "doc_id", F.col("tfs").alias("tfs_b"), F.col("doc_len").alias("dl_b"))
    both = a.join(b, "doc_id", "full_outer")
    eq = (F.col("tfs_a").isNotNull() & F.col("tfs_b").isNotNull()
          & (F.col("tfs_a") == F.col("tfs_b"))
          & (F.col("dl_a") == F.col("dl_b")))
    return both.select("doc_id", eq.alias("eq"))
