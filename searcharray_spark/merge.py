"""Index maintenance: merge independently built indexes.

Reference semantics: PosnBitArray.concat / merge
(/root/reference/searcharray/phrase/middle_out.py:366-408) — append
batches with disjoint doc ranges, or merge overlapping ones. In the
Spark engine, indexes over DISJOINT doc-id ranges merge as pure
metadata/table unions — no posting bytes are rewritten (each posting
row stays keyed by its (term, block); doc blocks don't collide when doc
ranges don't). This is the segment-append primitive.
"""
from __future__ import annotations

from itertools import repeat
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from . import commit, fsutil
from . import kernels as K
from . import query_kernel as QK
from .index import SearchIndex, doclens_reader, patch_doclens

# _restat's columns: (Spark type, pandas dtype of an empty frame)
_RESTAT_COLS = {"term": ("string", object), "block_id": ("long", "int64"),
                "postings": ("binary", object), "df": ("long", "int64"),
                "tf_total": ("long", "int64"), "tf_max": ("long", "int64"),
                "dl_min": ("long", "int64")}


def _lens_for_ids(dl_ids, dl_lens, ids):
    """Doc lengths for sorted posting doc ids, failing LOUDLY if any id
    is missing from the doclens table (an unclamped searchsorted would
    either IndexError or silently return a neighbour's length, feeding
    wrong dl_min/WAND bounds)."""
    pos = np.searchsorted(dl_ids, ids)
    if len(ids) and (int(pos.max()) >= len(dl_ids)
                     or not np.array_equal(dl_ids[pos], ids)):
        missing = set(map(int, ids)) - set(map(int, dl_ids))
        raise ValueError(
            f"inconsistent index: posting doc ids missing from doclens "
            f"(sample: {sorted(missing)[:5]})")
    return dl_lens[pos]


def _restat(dl_path: str, tomb=None, keep_postings: bool = False):
    """``applyInPandas`` body over one (term, block)'s posting rows
    (term, block_id, postings[, seg]): the rows merged under the
    kernel's tombstone rule (``QK.merge_rows``, ``tomb`` a tombstone
    SideReader), then the block's exact df, tf_total, tf_max and
    dl_min, with doc lengths side-read from the packed doclens at
    ``dl_path`` (SideReader); the merged postings too with
    ``keep_postings``. No row when every doc is gone. Returns (function,
    output schema)."""
    reader = doclens_reader([(0, dl_path)])
    cols = (["term", "block_id"] + (["postings"] if keep_postings else [])
            + ["df", "tf_total", "tf_max", "dl_min"])

    def restat(key, pdf: pd.DataFrame) -> pd.DataFrame:
        term, block_id = key[0], int(key[1])
        segs = pdf["seg"] if "seg" in pdf.columns else repeat(0)
        arr = QK.merge_rows(zip(repeat(term), pdf["postings"], segs),
                            tomb, block_id)[term]
        if not len(arr):
            return pd.DataFrame({c: pd.Series([], dtype=_RESTAT_COLS[c][1])
                                 for c in cols})
        ids, tfs = K.termfreqs(arr)
        dl_raw = reader.get(block_id)
        dls = _lens_for_ids(np.frombuffer(dl_raw[0], dtype="<i8"),
                            np.frombuffer(dl_raw[1], dtype="<f4"), ids)
        row = {"term": term, "block_id": block_id,
               "postings": K.to_bytes(arr), "df": int(len(ids)),
               "tf_total": int(tfs.sum()), "tf_max": int(tfs.max()),
               "dl_min": int(dls.min())}
        return pd.DataFrame({c: [row[c]] for c in cols})

    return restat, ", ".join(f"{c} {_RESTAT_COLS[c][0]}" for c in cols)


def _corpus_stats(spark: SparkSession, dl_path: str) -> tuple:
    """(num_docs, total_tokens, max block_id or -1) of the packed
    doclens table at ``dl_path``: one distributed pass, O(partitions)
    rows to the driver, not O(num_docs)."""
    def stats(it):
        n, tot, mb = 0, 0.0, -1
        for pdf in it:
            for b, lr in zip(pdf["block_id"], pdf["doc_lens"]):
                ln = np.frombuffer(lr, dtype="<f4")
                n += len(ln)
                tot += float(ln.sum())
                mb = max(mb, int(b))
        yield pd.DataFrame({"n": [n], "tot": [tot], "mb": [mb]})

    parts = spark.read.parquet(dl_path).select("block_id", "doc_lens") \
        .mapInPandas(stats, "n long, tot double, mb long").collect()
    return (int(sum(r["n"] for r in parts)),
            float(sum(r["tot"] for r in parts)),
            max((r["mb"] for r in parts), default=-1))


def compact_index(spark: SparkSession, index_path: str, out_path: str,
                  as_of: int = None) -> SearchIndex:
    """Materialize tombstones + update segments into a fresh index.

    Deleted docs disappear; updated docs keep their ids with the new
    content; df / tf / block-max metadata and corpus stats (num_docs,
    avg_doc_len) are recomputed exactly. The epoch resets (no
    tombstones/updates in the output). ``out_path`` is swept before the
    first write (``commit.begin``) and committed by its ``meta.json``.

    ``as_of=E`` exports a historical snapshot instead of the live state
    (Iceberg-style snapshot export): the rewrite sees only tombstones
    and update segments committed by epoch E, via the snapshot handle's
    filtered views.

    Fully distributed — NO O(num_docs) driver materialization: doclens
    compact as a per-block applyInPandas and are written FIRST; the
    postings rewrite kernel then side-input-reads the compacted doclens
    file covering its block (SideReader, index.py) instead of a
    whole-corpus broadcast; corpus stats come from one distributed pass
    over the written doclens. Tombstones are read the same way, per
    block from the tombstone files covering it: the task closures carry
    O(files) bytes of file ranges, never the tombstone set.
    """
    _check_out(out_path, [index_path])
    idx = SearchIndex(spark, index_path, as_of=as_of)
    commit.begin(out_path)
    tomb = idx._tombstones()

    from .indexing import (PARQUET_ROW_GROUP_BYTES, bounds_granularity,
                           write_postings_table, write_term_stats)

    n_parts = max(4, spark.sparkContext.defaultParallelism)

    # --- 1. compacted doclens (distributed, per block): each row drops
    # the docs a later tombstone kills (QK.tombstoned), then later segs
    # override. A tombstone kills a doc iff its seg is above the newest
    # row holding the doc, so this keeps exactly the live docs.
    def compact_doclens(key, pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(key[0])
        rows = []
        for seg, ir, lr in zip(pdf["seg"], pdf["doc_ids"], pdf["doc_lens"]):
            ids = np.frombuffer(ir, dtype="<i8")
            lens = np.frombuffer(lr, dtype="<f4")
            excl = QK.tombstoned(tomb, b, int(seg))
            if excl is not None:
                live = ~np.isin(ids, excl)
                ids, lens = ids[live], lens[live]
            if len(ids):
                rows.append((int(seg), ids, lens))
        if not rows:
            return pd.DataFrame({
                "block_id": pd.Series([], dtype="int64"),
                "doc_ids": pd.Series([], dtype=object),
                "doc_lens": pd.Series([], dtype=object)})
        ids, lens = patch_doclens(rows)
        return pd.DataFrame({
            "block_id": [b],
            "doc_ids": [ids.astype("<i8").tobytes()],
            "doc_lens": [lens.astype("<f4").tobytes()]})

    dl_path = fsutil.join(out_path, "doclens")
    idx.doclens.groupBy("block_id").applyInPandas(
        compact_doclens, "block_id long, doc_ids binary, doc_lens binary") \
        .repartitionByRange(n_parts, "block_id") \
        .sortWithinPartitions("block_id") \
        .write.mode("overwrite") \
        .option("parquet.block.size", str(PARQUET_ROW_GROUP_BYTES)) \
        .parquet(dl_path)

    # --- 2. postings rewrite: per (term, block) merge rows, drop
    # tombstoned docs, recompute df/tf_total/tf_max/dl_min; each task
    # side-reads only the COMPACTED doclens file(s) covering its block
    rewrite, out_schema = _restat(dl_path, tomb, keep_postings=True)
    new_posts = idx.postings.groupBy("term", "block_id").applyInPandas(
        rewrite, out_schema)
    srg = write_postings_table(new_posts, fsutil.join(out_path, "postings"),
                               n_parts)

    # --- 3. corpus stats + granularity
    num_docs, total_tokens, max_block = _corpus_stats(spark, dl_path)
    n_blocks = (max_block + 1) if max_block >= 0 else 1
    granularity = bounds_granularity(n_blocks)
    write_term_stats(spark.read.parquet(fsutil.join(out_path, "postings")),
                     fsutil.join(out_path, "term_stats"),
                     max(1, n_parts // 4), granularity)
    commit.publish(out_path, {
        **idx.meta,
        "num_docs": num_docs,
        "total_tokens": total_tokens,
        "bounds_granularity": granularity,
        "postings_single_row_group": bool(srg),
        "compacted_from": index_path,
    })
    return SearchIndex(spark, out_path)


def _check_out(out_path: str, inputs: Sequence[str]) -> None:
    """``commit.begin`` sweeps ``out_path``, so it must not be an input."""
    if out_path.rstrip("/") in {p.rstrip("/") for p in inputs}:
        raise ValueError(f"output {out_path!r} is also an input index")


def merge_indexes(spark: SparkSession, index_paths: Sequence[str],
                  out_path: str, allow_overlap: bool = False) -> SearchIndex:
    """Merge indexes with disjoint doc-id ranges into one index.

    All inputs must share tokenizer and docs_per_block. By default doc
    ids must be disjoint (the segment-append case). ``allow_overlap=True``
    merges indexes sharing doc ids (reference B5, PosnBitArray.merge,
    middle_out.py:394-408): a shared doc's positions UNION (the query
    kernel OR-merges posting words sharing a (doc, posn-block) header)
    and its doc length takes the max across inputs. Stats are EXACT in
    both modes (round 4; previously overlap merges double-counted
    df/tf_total until compaction): the overlap path recounts per
    (term, block) from the merged posting arrays — the same or_merge
    the query kernel applies — in one distributed pass, with doc
    lengths side-input-read from the merged doclens.
    """
    _check_out(out_path, index_paths)
    metas = []
    for p in index_paths:
        idx = SearchIndex(spark, p)
        metas.append(idx.meta)
        # merge unions BASE tables only; silently dropping an input's
        # committed deletes/updates would resurrect dead docs — fail fast
        if idx.history():
            raise ValueError(
                f"index {p} has pending tombstones/update segments; "
                f"compact_index it before merging")
    tokenizers_ = {m["tokenizer"] for m in metas}
    dpbs = {m["docs_per_block"] for m in metas}
    if len(tokenizers_) != 1 or len(dpbs) != 1:
        raise ValueError("indexes disagree on tokenizer or docs_per_block")

    from .indexing import (PARQUET_ROW_GROUP_BYTES, bounds_granularity,
                           write_postings_table, write_term_stats)

    commit.begin(out_path)
    n_parts = max(4, spark.sparkContext.defaultParallelism)

    def union_of(table: str):
        df = None
        for p in index_paths:
            part = spark.read.parquet(fsutil.join(p, table))
            df = part if df is None else df.unionByName(part)
        return df

    srg = write_postings_table(union_of("postings"),
                               fsutil.join(out_path, "postings"), n_parts)
    # doc ranges need not be block-aligned: a boundary block may appear in
    # two segments — coalesce its doclens rows (and verify the doc ids are
    # actually disjoint). (Posting rows for a shared (term, block) are
    # merged lazily by the query kernel.)
    def _coalesce(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 1:
            return pdf
        ids = np.concatenate([np.frombuffer(b, dtype="<i8")
                              for b in pdf["doc_ids"]])
        lens = np.concatenate([np.frombuffer(b, dtype="<f4")
                               for b in pdf["doc_lens"]])
        order = np.argsort(ids)
        ids, lens = ids[order], lens[order]
        if len(ids) > 1 and (np.diff(ids) == 0).any():
            if not allow_overlap:
                raise ValueError(
                    f"overlapping doc ids in block {int(key[0])} during merge "
                    "(pass allow_overlap=True to union shared docs)")
            # shared doc: positions union, doc_len = max across inputs
            starts = np.concatenate(([0], np.flatnonzero(np.diff(ids)) + 1))
            lens = np.maximum.reduceat(lens, starts)
            ids = ids[starts]
        return pd.DataFrame({"block_id": [int(key[0])],
                             "doc_ids": [ids.astype('<i8').tobytes()],
                             "doc_lens": [lens.astype('<f4').tobytes()]})

    union_of("doclens").groupBy("block_id").applyInPandas(
        _coalesce, "block_id long, doc_ids binary, doc_lens binary") \
        .repartitionByRange(n_parts, "block_id") \
        .sortWithinPartitions("block_id") \
        .write.mode("overwrite") \
        .option("parquet.block.size", str(PARQUET_ROW_GROUP_BYTES)) \
        .parquet(fsutil.join(out_path, "doclens"))
    # recompute the per-term sketches from the merged postings metadata
    # (input sketches can't just union: granularities and group bounds
    # differ per input; one pass over the small per-(term, block)
    # columns rebuilds them exactly)
    merged_posts = spark.read.parquet(fsutil.join(out_path, "postings"))
    max_block = merged_posts.agg(F.max("block_id")).collect()[0][0]
    granularity = bounds_granularity(int(max_block or 0) + 1)
    if allow_overlap:
        # shared docs make per-input df/tf_total rows double-count.
        # Recount EXACTLY per (term, block) from the posting arrays —
        # the same or_merge the query kernel applies — with doc lens
        # side-input-read from the merged doclens (no driver
        # materialization). One distributed pass; overlap merges only.
        recount, schema = _restat(fsutil.join(out_path, "doclens"))
        exact = merged_posts.select("term", "block_id", "postings") \
            .groupBy("term", "block_id").applyInPandas(recount, schema)
        write_term_stats(exact, fsutil.join(out_path, "term_stats"),
                         max(1, n_parts // 4), granularity)
        num_docs, total_tokens, _ = _corpus_stats(
            spark, fsutil.join(out_path, "doclens"))
    else:
        write_term_stats(merged_posts, fsutil.join(out_path, "term_stats"),
                         max(1, n_parts // 4), granularity)
        num_docs = sum(m["num_docs"] for m in metas)
        total_tokens = sum(m["total_tokens"] for m in metas)
    commit.publish(out_path, {
        **metas[0],
        "num_docs": num_docs,
        "total_tokens": total_tokens,
        "bounds_granularity": granularity,
        "postings_single_row_group": bool(srg),
        "merged_from": list(index_paths),
    })
    return SearchIndex(spark, out_path)
