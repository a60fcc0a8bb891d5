"""Distributed inverted-index construction.

Spark-first dataflow (reference semantics: SearchArray.index,
/root/reference/searcharray/postings.py:250-300 + indexing.py:235-295 —
re-architected for a multi-executor cluster, not ported):

1. doc ids: dense int64, deterministic (caller-provided column, or
   range-partition + per-partition offsets over an order column).
2. doc blocks: ``block_id = doc_id // docs_per_block`` — the unit of build
   parallelism AND the query-time partitioning of the doc axis. Local doc
   ids fit the 28-bit key field of the packed posting words.
3. per-block build (inside a ``mapInPandas`` partition kernel):
   tokenize (Arrow batch, vectorized), flatten to (term, local_doc,
   posn), one-pass multi-term encode into packed uint64 posting arrays
   + per-term block stats (df, tf_total, block-max tf for WAND-style
   pruning). A hot term's row is CHUNKED to a bounded byte size
   (``max_words_per_row``).
4. one pass, DOCUMENT-partitioned: the text is exchanged once with
   exact placement into final file ids ``fid = block_id * T // n_blocks``
   (``T`` = term_partitions). The kernel of partition ``fid`` encodes
   its blocks, side-writes the file's doclens, and emits its postings
   rows, which the same job writes as the final file. Every file holds
   a block range with the full term mix (uniform bytes, no hot-term
   write skew), sorted by (term, block_id) within the file so parquet
   min/max stats prune query-term scans. A hot term's rows therefore
   spread across every file — single-term scans parallelize across
   the cluster instead of hitting one term-range partition.
5. checkpointed build: the pass runs as ``checkpoint_groups`` group
   jobs over contiguous fid ranges. Each group lands its files under
   names fixed by fid, then commits ``_groups/group_{g}_of_{G}.done``
   holding the build plan, so a killed build resumes from the last
   committed group (north_rule resumability). ``n_blocks`` and ``T``
   are fixed before group 0, so every group count writes the same
   files. term_stats, corpus stats and meta.json are finalized once,
   after the last group. Per-group metrics land in ``metrics.jsonl``.
6. every write goes through ``commit`` (pyarrow.fs, any path or URI
   whose store renames atomically): ``commit.begin`` drops the old
   ``meta.json`` and sweeps the old index before the first table
   write, and ``commit.publish`` lands ``meta.json`` last.

Index layout on disk (parquet):
  postings/   term, block_id, postings(binary u64-LE), df, tf_total, tf_max
              — ONE parquet row group per file (verified at write): a row
              group is the atomic unit Spark's parquet scan assigns to a
              scan partition (row groups go to the split containing their
              midpoint), so single-row-group files are NEVER split across
              partitions regardless of maxPartitionBytes/parallelism.
              That is the invariant the zero-shuffle phrase path rests on
              (SearchIndex._files_aligned).
  doclens/    block_id, doc_ids(binary i64-LE), doc_lens(binary f32-LE)
              — range-partitioned by block_id like postings, so the query
              kernel side-input-reads only its blocks' doclens files
              (no broadcast, no shuffle, at any corpus size).
  term_stats/ term, df, tf_total, n_blocks, grp_ids/grp_tf_max/grp_dl_min
              (binary i32-LE arrays over block GROUPS of
              ``bounds_granularity`` blocks) — the per-term block-presence
              + block-max bound sketch. Query-time block pruning and
              WAND bounds are driver lookups of the query terms' rows
              (O(terms) rows, O(terms * groups) bytes), never an
              O(terms x blocks) row collect. Files are term-sorted in
              row groups of TERM_STATS_ROW_GROUP_ROWS terms, so a
              lookup reads only the row groups that can hold its terms.
  meta.json   tokenizer, docs_per_block, num_docs, avg_doc_len, ... —
              the index's commit marker, written last
(per-doc docstats are derived lazily from doclens — see SearchIndex)
"""
from __future__ import annotations

import re
import time
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

from . import commit, fsutil
from . import kernels as K
from . import tokenizers
from .constants import DEFAULT_DOCS_PER_BLOCK, MAX_POSN
from .partitioning import PROBE_MAX_PARTITIONS, repartition_exact

# Parquet writer row-group target for postings/doclens files: far above
# the ~64 MB file target, so every file flushes exactly ONE row group
# (parquet.block.size counts UNCOMPRESSED bytes; 2 GiB covers any
# compression ratio of a 64 MB file). Single-row-group files are the
# soundness basis of the zero-shuffle phrase path — see module docstring.
PARQUET_ROW_GROUP_BYTES = 2 << 30

# term_stats row groups hold at most this many terms. Both writers keep
# files term-sorted, so a driver-side term lookup skips every row group
# whose footer term min/max excludes the queried terms and decodes
# O(queried terms) row groups, not the whole sketch table.
TERM_STATS_ROW_GROUP_ROWS = 4096

# per-term bound sketches aggregate blocks into groups of this many
# blocks when the corpus has more than MAX_BOUND_GROUPS blocks, keeping
# the sketch O(64Ki) entries per term at any scale (bounds get coarser,
# never wrong: group tf_max = max, dl_min = min over its blocks)
MAX_BOUND_GROUPS = 1 << 16

TERM_STATS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("df", LongType()),
    StructField("tf_total", LongType()),
    StructField("n_blocks", LongType()),
    StructField("grp_ids", BinaryType()),     # i32-LE sorted group ids
    StructField("grp_tf_max", BinaryType()),  # i32-LE per-group max tf
    StructField("grp_dl_min", BinaryType()),  # i32-LE per-group min doc len
])


def verify_single_row_group(path: str) -> bool:
    """True iff every parquet file under ``path`` holds <= 1 row group.

    Driver-side footer walk (bytes read: only footers). Builds record the
    result in meta.json so serving never re-walks; at cluster scale this
    runs once per build on the driver.
    """
    for f, _sz in fsutil.list_parquet_files(path):
        if fsutil.parquet_file(f).metadata.num_row_groups > 1:
            return False
    return True


def write_postings_table(df: DataFrame, path: str, n_partitions: int,
                         n_blocks: Optional[int] = None) -> bool:
    """Write a postings DataFrame in the document-partitioned layout.

    Block-range-partitioned (hot terms spread across every file),
    term-sorted within files (parquet row-group/page min-max stats prune
    pushed term filters), ONE row group per file (atomic scan-partition
    assignment). Returns the verified single-row-group flag for meta.

    When ``n_blocks`` is known the contiguous ranges are assigned
    EXACTLY (``fid = block_id * n / n_blocks`` via the probe exchange,
    partitioning.py): equal ranges, and no range-sampling pass — which
    here would re-decode the whole packed-postings column just to learn
    bounds the block model already pins. Unknown ``n_blocks`` (external
    callers, merges) falls back to sampled range partitioning.
    """
    if n_blocks is not None and n_partitions <= PROBE_MAX_PARTITIONS:
        fid = F.floor(F.col("block_id") * F.lit(int(n_partitions))
                      / F.lit(int(max(n_blocks, 1))))
        df = repartition_exact(df, fid, n_partitions)
    else:
        df = df.repartitionByRange(n_partitions, "block_id")
    df.sortWithinPartitions("term", "block_id") \
        .write.mode("overwrite") \
        .option("parquet.block.size", str(PARQUET_ROW_GROUP_BYTES)) \
        .parquet(path)
    return verify_single_row_group(path)


def bounds_granularity(n_blocks_total: int) -> int:
    """Blocks per bound-sketch group (1 until ~64Ki blocks)."""
    return max(1, -(-int(n_blocks_total) // MAX_BOUND_GROUPS))


def write_term_stats(posts: DataFrame, path: str, n_partitions: int,
                     granularity: int) -> None:
    """Aggregate per-(term, block) postings rows into per-term sketch rows.

    Two-phase: partial agg by (term, group) — map-side combinable, so a
    hot term's shuffled volume is capped at MAX_BOUND_GROUPS rows — then
    hash-partition by term, sort within partitions, and pack every
    term's group arrays in ONE vectorized ``mapInPandas`` pass (term
    boundaries by diff scan; a per-term ``applyInPandas`` would pay
    pandas-group overhead per vocabulary entry). Output stays
    term-sorted within files, so term-pruned lookups keep row-group
    min/max skipping.
    """
    if granularity > 1:
        # > 64Ki blocks: pre-aggregate blocks into groups — map-side
        # combinable, so the shuffled volume is capped at MAX_BOUND_GROUPS
        # rows per term no matter the corpus size
        agg = posts.groupBy(
            "term", (F.floor(F.col("block_id") / F.lit(granularity))).alias("grp")
        ).agg(
            F.sum("df").alias("df"),
            F.sum("tf_total").alias("tf_total"),
            F.max("tf_max").alias("tf_max"),
            F.min("dl_min").alias("dl_min"),
            F.countDistinct("block_id").alias("n_blocks"),
        )
    else:
        # granularity 1: every (term, block) row is already unique, so a
        # groupBy would shuffle the whole stats stream once for ZERO
        # reduction and then repartition would shuffle it again. Feed the
        # rows straight to the term-partitioned gather — one shuffle.
        agg = posts.select(
            "term", F.col("block_id").alias("grp"), "df", "tf_total",
            "tf_max", "dl_min", F.lit(1).alias("n_blocks"))

    def gather(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [pdf for pdf in it if len(pdf)]
        if not batches:
            return
        pdf = pd.concat(batches) if len(batches) > 1 else batches[0]
        terms = pdf["term"].to_numpy()
        grp = pdf["grp"].to_numpy(dtype=np.int64)
        tf_max = pdf["tf_max"].to_numpy(dtype=np.int64).astype("<i4")
        dl_min = pdf["dl_min"].to_numpy(dtype=np.int64).astype("<i4")
        df_ = pdf["df"].to_numpy(dtype=np.int64)
        tf_tot = pdf["tf_total"].to_numpy(dtype=np.int64)
        n_blk = pdf["n_blocks"].to_numpy(dtype=np.int64)
        starts = np.concatenate(
            ([0], np.flatnonzero(terms[1:] != terms[:-1]) + 1, [len(terms)]))
        rows = []
        for s, e in zip(starts[:-1], starts[1:]):
            g = grp[s:e]
            rows.append((
                terms[s], int(df_[s:e].sum()), int(tf_tot[s:e].sum()),
                int(n_blk[s:e].sum()), g.astype("<i4").tobytes(),
                tf_max[s:e].tobytes(), dl_min[s:e].tobytes()))
        yield pd.DataFrame(rows, columns=[
            "term", "df", "tf_total", "n_blocks",
            "grp_ids", "grp_tf_max", "grp_dl_min"])

    agg.repartition(max(1, n_partitions), "term") \
        .sortWithinPartitions("term", "grp") \
        .mapInPandas(gather, TERM_STATS_SCHEMA) \
        .write.mode("overwrite") \
        .option("parquet.block.row.count.limit",
                str(TERM_STATS_ROW_GROUP_ROWS)) \
        .parquet(path)


# columns of the per-block builder's rows: kind 'p' = one (term, block)
# postings row, kind 'd' = the block's packed doclens row
BLOCK_ROW_COLS = ["block_id", "kind", "term", "postings", "df", "tf_total",
                  "tf_max", "dl_min", "doc_ids", "doc_lens"]

# final postings-table schema (order matches write_postings_table's select
# and the driver-local writer, so fused-built files are bit-compatible)
POSTINGS_COLS = ["term", "block_id", "postings", "df", "tf_total", "tf_max",
                 "dl_min"]
POSTINGS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("block_id", LongType()),
    StructField("postings", BinaryType()),
    StructField("df", LongType()),
    StructField("tf_total", LongType()),
    StructField("tf_max", LongType()),
    StructField("dl_min", LongType()),
])

# bound on the postings bytes a fused-build task yields per Arrow batch
# (a plain binary Arrow column caps one batch at 2 GiB of payload)
FUSED_SLICE_BYTES = 256 << 20


def _ensure_parquet_dir(path: str, pa_schema) -> None:
    """Guarantee ``path`` is a readable parquet dir: a write whose every
    partition was empty produces no files, and ``spark.read.parquet``
    then fails schema inference. Writes one empty single-row-group file."""
    import pyarrow as pa
    if fsutil.list_parquet_files(path):
        return
    commit.write_parquet(fsutil.join(path, "part-empty.parquet"),
                         pa.Table.from_pylist([], schema=pa_schema),
                         compression="zstd")


def _make_partition_kernel(builder, doclens_dir: str, fid_base: int = 0):
    """Partition-level build kernel for ``mapInPandas``.

    The input exchange places WHOLE doc blocks into each partition
    (exact-placement ``repartition_exact`` on a block-derived fid), so
    the per-block builder runs here without the extra
    ``groupBy().applyInPandas`` hash exchange Spark would otherwise
    insert (guide §2.4: that shuffles the full text twice, and the
    second exchange re-introduces the balls-in-bins skew the first one
    fixed).

    The task of partition ``p`` IS final file ``fid_base + p``: it
    side-writes that file's doclens (deterministic content + atomic
    ``commit.write_parquet``, so task retries are idempotent on any
    store the driver and executors share; per-file corpus stats ride
    in the parquet footer metadata) and yields the postings rows
    term-sorted, so the enclosing job's parquet write lands them in the
    final block-range layout with NO further shuffle (guide §8: heavy
    bytes move exactly once).
    """

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # bucket incoming Arrow batches by block as they stream in, then
        # build block by block, releasing each block's text after its
        # postings are encoded: peak memory is the partition's text held
        # ONCE plus a single block's build intermediates (a whole-
        # partition concat+sort would hold the text twice and all
        # blocks' intermediates together)
        buckets: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            for b, grp in pdf.groupby("block_id", sort=False):
                buckets.setdefault(int(b), []).append(grp)
        if not buckets:
            return
        parts = []
        for b in sorted(buckets):
            pieces = buckets.pop(b)
            grp = (pd.concat(pieces, ignore_index=True)
                   if len(pieces) > 1 else pieces[0])
            # doc_id order within the block, as the local build presents
            # it (deterministic builder output)
            grp = grp.sort_values("doc_id", kind="stable")
            parts.append(builder(grp))
        rows = pd.concat(parts, ignore_index=True)

        import pyarrow as pa
        from pyspark import TaskContext

        posts = rows[rows["kind"] == "p"]
        dls = rows[rows["kind"] == "d"]  # already in block_id order

        # --- side-write this partition's doclens file (tiny: ~12B/doc) ---
        fid = fid_base + TaskContext.get().partitionId()
        n_docs = int(sum(len(b) // 8 for b in dls["doc_ids"]))
        # f32 sum per block, accumulated in float64 (as the local build)
        total_tokens = float(sum(
            float(np.frombuffer(b, dtype="<f4").sum())
            for b in dls["doc_lens"]))
        dl_schema = pa.schema([
            ("block_id", pa.int64()), ("doc_ids", pa.binary()),
            ("doc_lens", pa.binary()),
        ]).with_metadata({"n_docs": str(n_docs),
                          "total_tokens": repr(total_tokens)})
        dl_table = pa.Table.from_pandas(
            dls[["block_id", "doc_ids", "doc_lens"]]
            .astype({"block_id": "int64"}),
            schema=dl_schema, preserve_index=False)
        commit.write_parquet(
            fsutil.join(doclens_dir, f"part-{fid:05d}.parquet"), dl_table,
            row_group_size=max(1, len(dls)), compression="zstd")

        # --- emit final postings rows: term-sorted (page min/max stats
        # prune pushed term filters inside the single row group), sliced
        # to bound Arrow batch payload ---
        posts = posts.sort_values(["term", "block_id"], kind="stable")
        out = posts[POSTINGS_COLS].astype(
            {"block_id": "int64", "df": "int64", "tf_total": "int64",
             "tf_max": "int64", "dl_min": "int64"}, errors="ignore")
        if not len(out):
            return
        bytes_cum = out["postings"].map(len).to_numpy(dtype=np.int64).cumsum()
        start = 0
        while start < len(out):
            stop = int(np.searchsorted(
                bytes_cum, bytes_cum[start] + FUSED_SLICE_BYTES, "right"))
            stop = max(stop, start + 1)
            yield out.iloc[start:stop]
            start = stop

    return run


def assign_doc_ids(df: DataFrame, order_col: str, num_partitions: Optional[int] = None) -> DataFrame:
    """Assign dense deterministic int64 ``doc_id`` ordered by ``order_col``.

    Scale-safe: range-partition + sort by the order column, count rows per
    partition (one cheap job), then add per-partition offsets — no global
    window, no single-partition sort.
    """
    return _assign_doc_ids_counted(df, order_col, num_partitions)[0]


def _assign_doc_ids_counted(df: DataFrame, order_col: str,
                            num_partitions: Optional[int] = None):
    """(assigned_df, total_rows) — the sizes job already counts every
    partition, so callers that need the corpus size (the fused build's
    n_blocks) get it for free instead of re-running the pipeline."""
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = df.repartitionByRange(num_partitions, F.col(order_col)) \
             .sortWithinPartitions(order_col)
    sizes_schema = StructType([StructField("pid", LongType()), StructField("n", LongType())])

    def _sizes(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        n = 0
        for pdf in it:
            n += len(pdf)
        yield pd.DataFrame({"pid": [pid], "n": [n]})

    sizes = {r["pid"]: r["n"] for r in part.mapInPandas(_sizes, sizes_schema).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    out_schema = StructType(part.schema.fields + [StructField("doc_id", LongType())])

    def _assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        for pdf in it:
            pdf = pdf.copy()
            pdf["doc_id"] = np.arange(base, base + len(pdf), dtype=np.int64)
            base += len(pdf)
            yield pdf

    return part.mapInPandas(_assign, out_schema), acc


# corpora at or below this many docs (and <= SMALL_BUILD_MAX_BYTES of
# text) build driver-locally: the SAME per-block kernel and the SAME
# on-disk layout (single-row-group files, block-range partitioning,
# term-sorted postings, sketches), but via pyarrow writes instead of
# ~10 Spark jobs whose fixed scheduling overhead dominates at toy scale.
# This is the update-segment / small-bench path;
# large builds are untouched.
SMALL_BUILD_MAX_DOCS = 16384
SMALL_BUILD_MAX_BYTES = 64 << 20

# fused builds whose postings table is at most this size finalize the
# term-sketch table driver-side (columnar read of ~KBs..MBs of metadata
# columns); larger indexes run the distributed two-phase agg
TS_LOCAL_MAX_POSTINGS_BYTES = 256 << 20


def _write_term_stats_pdf(posts: pd.DataFrame, ts_dir: str,
                          granularity: int) -> None:
    """Aggregate per-(term, block) posting metadata rows into the
    per-term sketch table and write ONE term-sorted file in row groups
    of TERM_STATS_ROW_GROUP_ROWS terms. Shared by
    the driver-local build and the fused build's driver-side finalize
    (gated on postings bytes).

    Vectorized: one lexsort + reduceat passes over numpy arrays, with
    Python touched only to slice each term's packed byte arrays. The
    previous pandas double-groupby walked a DataFrame per vocabulary
    entry — measured 9.4 s for a ~300k-term vocabulary (500k docs)
    vs ~0.3 s for this form; identical output (same sort order, same
    aggregation semantics, verified by the local-vs-distributed build
    equivalence tests)."""
    import pyarrow as pa
    ts_schema = pa.schema([
        ("term", pa.string()), ("df", pa.int64()), ("tf_total", pa.int64()),
        ("n_blocks", pa.int64()), ("grp_ids", pa.binary()),
        ("grp_tf_max", pa.binary()), ("grp_dl_min", pa.binary())])
    if len(posts):
        if isinstance(posts, pd.DataFrame):
            codes, uniques = pd.factorize(posts["term"].to_numpy(),
                                          sort=True)
            codes = codes.astype(np.int64)

            def col(name):
                return posts[name].to_numpy(dtype=np.int64)
        else:
            # pyarrow table: dictionary-encode the term column in C++
            # instead of materializing millions of Python strings
            # (measured 2.8 -> ~1 s at a 500k-doc / 300k-term corpus)
            term_col = posts.column("term")
            import pyarrow as _pa
            if not _pa.types.is_dictionary(term_col.type):
                term_col = term_col.dictionary_encode()
            enc = term_col.combine_chunks()
            raw_codes = enc.indices.to_numpy().astype(np.int64)
            dic = np.asarray(enc.dictionary.to_pylist(), dtype=object)
            dic_order = np.argsort(dic)  # same unicode order as factorize
            rank = np.empty(len(dic), dtype=np.int64)
            rank[dic_order] = np.arange(len(dic), dtype=np.int64)
            codes = rank[raw_codes]
            uniques = dic[dic_order]

            def col(name):
                return posts.column(name).to_numpy().astype(np.int64)
        blocks = col("block_id")
        grp = blocks // granularity
        df_ = col("df")
        tft = col("tf_total")
        tfm = col("tf_max")
        dlm = col("dl_min")
        order = np.lexsort((blocks, grp, codes))
        codes, blocks, grp = codes[order], blocks[order], grp[order]
        df_, tft, tfm, dlm = df_[order], tft[order], tfm[order], dlm[order]
        # (term, grp) boundaries; rows sorted by block within each
        cg_new = np.concatenate(
            ([0], np.flatnonzero((np.diff(codes) != 0)
                                 | (np.diff(grp) != 0)) + 1))
        g_df = np.add.reduceat(df_, cg_new)
        g_tft = np.add.reduceat(tft, cg_new)
        g_tfm = np.maximum.reduceat(tfm, cg_new)
        g_dlm = np.minimum.reduceat(dlm, cg_new)
        # distinct blocks per (term, grp): block-change indicator summed
        blk_new = np.concatenate(
            ([True], (np.diff(codes) != 0) | (np.diff(grp) != 0)
             | (np.diff(blocks) != 0)))
        g_nblk = np.add.reduceat(blk_new.astype(np.int64), cg_new)
        g_code = codes[cg_new]
        g_grp = grp[cg_new]
        # per-term ranges over the (term, grp) rows + per-term sums
        t_new = np.concatenate(
            ([0], np.flatnonzero(np.diff(g_code)) + 1))
        t_bounds = np.concatenate((t_new, [len(g_code)]))
        t_df = np.add.reduceat(g_df, t_new)
        t_tft = np.add.reduceat(g_tft, t_new)
        t_nblk = np.add.reduceat(g_nblk, t_new)
        gi4 = g_grp.astype("<i4")
        tm4 = g_tfm.astype("<i4")
        dm4 = g_dlm.astype("<i4")
        terms_out = uniques[g_code[t_new]]
        rows = [
            (terms_out[i], int(t_df[i]), int(t_tft[i]), int(t_nblk[i]),
             gi4[s:e].tobytes(), tm4[s:e].tobytes(), dm4[s:e].tobytes())
            for i, (s, e) in enumerate(zip(t_bounds[:-1], t_bounds[1:]))]
        ts_pdf = pd.DataFrame(rows, columns=[
            "term", "df", "tf_total", "n_blocks", "grp_ids", "grp_tf_max",
            "grp_dl_min"])
    else:
        ts_pdf = pd.DataFrame(columns=[
            "term", "df", "tf_total", "n_blocks", "grp_ids", "grp_tf_max",
            "grp_dl_min"])
    commit.write_parquet(
        fsutil.join(ts_dir, "part-00000.parquet"),
        pa.Table.from_pandas(ts_pdf, schema=ts_schema, preserve_index=False),
        row_group_size=TERM_STATS_ROW_GROUP_ROWS, compression="snappy")


def _write_pq_single_rg(path: str, pdf: pd.DataFrame, schema) -> None:
    """One parquet file, ONE row group, pyarrow writer (driver-local)."""
    import pyarrow as pa
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    commit.write_parquet(path, table, row_group_size=max(1, len(pdf)),
                         compression="snappy")


def _build_index_local(spark, pdf: pd.DataFrame, index_path: str, builder,
                       docs_per_block: int, n_blocks: int,
                       term_partitions: int, tokenizer_name: str,
                       truncate: bool, t_start: float, tokenizer_fn):
    """Driver-local build for small corpora — bit-compatible layout.

    Used for update segments and small benchmarks; produces exactly the
    tables the distributed path writes (postings/doclens block-range
    partitioned, one row group per file, term-sorted postings, per-term
    sketches) without Spark jobs.
    """
    import pyarrow as pa

    from .index import SearchIndex

    pdf = pdf.sort_values(["block_id", "doc_id"], kind="stable")
    parts = [builder(grp) for _, grp in pdf.groupby("block_id", sort=True)]
    rows = pd.concat(parts, ignore_index=True) if parts else \
        pd.DataFrame(columns=BLOCK_ROW_COLS)

    posts = rows[rows["kind"] == "p"]
    dls = rows[rows["kind"] == "d"]

    # block-range partitioning: contiguous block ranges per file so every
    # block's rows (all terms) share a file — the zero-shuffle invariant
    blocks = np.sort(dls["block_id"].to_numpy(dtype=np.int64))
    n_files = max(1, min(term_partitions, len(blocks)))
    bounds = ([int(blocks[int(len(blocks) * i / n_files)])
               for i in range(n_files)] if len(blocks) else [0])

    def file_of(block_col: np.ndarray) -> np.ndarray:
        return np.maximum(
            np.searchsorted(np.asarray(bounds), block_col, side="right") - 1, 0)

    posts_schema = pa.schema([
        ("term", pa.string()), ("block_id", pa.int64()),
        ("postings", pa.binary()), ("df", pa.int64()),
        ("tf_total", pa.int64()), ("tf_max", pa.int64()),
        ("dl_min", pa.int64())])
    p_dir = fsutil.join(index_path, "postings")
    p_cols = ["term", "block_id", "postings", "df", "tf_total", "tf_max",
              "dl_min"]
    p_file = file_of(posts["block_id"].to_numpy(dtype=np.int64)) \
        if len(posts) else np.zeros(0, dtype=np.int64)
    for i in range(n_files):
        part = posts[p_file == i].sort_values(["term", "block_id"],
                                              kind="stable")[p_cols]
        part = part.astype({"block_id": "int64", "df": "int64",
                            "tf_total": "int64", "tf_max": "int64",
                            "dl_min": "int64"}, errors="ignore")
        _write_pq_single_rg(
            fsutil.join(p_dir, f"part-{i:05d}.parquet"), part, posts_schema)

    dl_schema = pa.schema([
        ("block_id", pa.int64()), ("doc_ids", pa.binary()),
        ("doc_lens", pa.binary())])
    d_dir = fsutil.join(index_path, "doclens")
    d_file = file_of(dls["block_id"].to_numpy(dtype=np.int64)) \
        if len(dls) else np.zeros(0, dtype=np.int64)
    for i in range(n_files):
        part = dls[d_file == i].sort_values("block_id", kind="stable")[
            ["block_id", "doc_ids", "doc_lens"]].astype({"block_id": "int64"})
        _write_pq_single_rg(
            fsutil.join(d_dir, f"part-{i:05d}.parquet"), part, dl_schema)

    # per-term sketches: same two-phase agg as write_term_stats, in pandas
    granularity = bounds_granularity(n_blocks)
    _write_term_stats_pdf(posts, fsutil.join(index_path, "term_stats"),
                          granularity)

    num_docs = int(sum(len(b) // 8 for b in dls["doc_ids"]))
    total_tokens = float(sum(
        np.frombuffer(b, dtype="<f4").sum() for b in dls["doc_lens"]))
    assert verify_single_row_group(p_dir)
    secs = round(time.time() - t_start, 3)
    commit.publish(index_path, {
        "tokenizer": tokenizer_name,
        "docs_per_block": docs_per_block,
        "truncate": truncate,
        "num_docs": num_docs,
        "total_tokens": total_tokens,
        "bounds_granularity": granularity,
        "postings_single_row_group": True,  # by construction (verified)
        "build_secs": secs,
        "built_local": True,
    })
    commit.append_line(fsutil.join(index_path, "metrics.jsonl"), {
        "stage": "finalize", "num_docs": num_docs,
        "total_tokens": total_tokens, "secs": secs,
        "docs_per_sec": round(num_docs / max(secs, 1e-9), 1),
        "local_build": True,
    })
    return SearchIndex(spark, index_path, tokenizer=tokenizer_fn)


def _make_block_builder(tokenizer_fn, docs_per_block: int, truncate: bool,
                        max_words_per_row: int = 131072,
                        pretokenized: bool = False):
    """Per-block kernel: tokenize + build packed postings for one doc block.

    The tokenizer callable is captured in the closure (cloudpickle ships it
    to executors), so custom tokenizers work without registry round-trips.

    ``max_words_per_row`` caps one posting row's packed words (~8 bytes
    each): a hot term ("the" at web scale) becomes MANY bounded rows
    instead of one huge one, so the row-count-balanced range partitioning
    of the postings write also balances bytes — hot-term skew is spread
    across reducers without explicit salting. Chunks split at doc
    boundaries; the query kernel re-merges them.
    """

    def build_block(pdf: pd.DataFrame) -> pd.DataFrame:
        tok = tokenizer_fn
        block_id = int(pdf["block_id"].iloc[0])
        base = block_id * docs_per_block
        if pretokenized:
            # tokens arrive as array<string> (reference S3,
            # build_index_from_terms_list, indexing.py:298-342)
            token_lists = pdf["text"].map(
                lambda t: t if t is not None else [])
        else:
            token_lists = pdf["text"].map(tok)
        lens = token_lists.map(len).to_numpy(dtype=np.int64)
        if lens.size and lens.max() > MAX_POSN + 1:
            if not truncate:
                raise ValueError(
                    f"doc exceeds max posn {MAX_POSN}; pass truncate=True to clip")
            token_lists = token_lists.map(lambda t: t[:MAX_POSN + 1])
            lens = np.minimum(lens, MAX_POSN + 1)
        local_ids = (pdf["doc_id"].to_numpy(dtype=np.int64) - base)

        flat_terms = np.concatenate(
            [np.asarray(t, dtype=object) for t in token_lists]) if lens.sum() else np.array([], dtype=object)
        flat_docs = np.repeat(local_ids, lens)
        flat_posns = np.concatenate(
            [np.arange(n, dtype=np.int64) for n in lens]) if lens.sum() else np.array([], dtype=np.int64)

        codes, uniques = pd.factorize(flat_terms, sort=False)
        (c, starts, packed, df, tf_total, tf_max,
         doc_keys, term_doc_starts) = K.encode_multi(codes, flat_docs, flat_posns)

        # per-(term, block) min doc length among matching docs — block-max
        # metadata for WAND-style top-k pruning (with tf_max)
        id_order = np.argsort(local_ids)
        sorted_ids = local_ids[id_order]
        sorted_lens = lens[id_order]
        if len(doc_keys):
            dls = sorted_lens[np.searchsorted(sorted_ids, doc_keys)]
            dl_min = np.minimum.reduceat(dls, term_doc_starts)
        else:
            dl_min = np.zeros(0, dtype=np.int64)

        terms_out = []
        for i, code in enumerate(c):
            seg = packed[starts[i]:starts[i + 1]]
            if len(seg) <= max_words_per_row:
                terms_out.append((
                    block_id, "p", uniques[code], K.to_bytes(seg),
                    int(df[i]), int(tf_total[i]), int(tf_max[i]),
                    int(dl_min[i]), None, None,
                ))
                continue
            # chunk an oversized posting row at doc boundaries
            seg_keys = (seg >> np.uint64(36)).astype(np.int64)
            doc_bounds = np.concatenate(
                ([0], np.flatnonzero(np.diff(seg_keys)) + 1, [len(seg)]))
            start_w = 0
            while start_w < len(seg):
                target = start_w + max_words_per_row
                cut = doc_bounds[np.searchsorted(doc_bounds, target, "left")] \
                    if target < len(seg) else len(seg)
                if cut <= start_w:
                    cut = len(seg)
                chunk = seg[start_w:cut]
                ids_c, tfs_c = K.termfreqs(chunk)
                dls_c = sorted_lens[np.searchsorted(sorted_ids, ids_c)]
                terms_out.append((
                    block_id, "p", uniques[code], K.to_bytes(chunk),
                    int(len(ids_c)), int(tfs_c.sum()), int(tfs_c.max()),
                    int(dls_c.min()), None, None,
                ))
                start_w = cut
        # packed doclens row for block-local scoring (no per-doc join at
        # query time; analogous to Lucene norms), sorted by local doc id
        # so the scorer can searchsorted into it
        terms_out.append((
            block_id, "d", None, None, None, None, None, None,
            sorted_ids.astype("<i8").tobytes(),
            sorted_lens.astype("<f4").tobytes(),
        ))
        return pd.DataFrame(terms_out, columns=BLOCK_ROW_COLS)

    return build_block


# only walk input-file footers for the build gate when the scan is this
# small; larger inputs decide via the plan-size estimate with zero I/O
GATE_FOOTER_MAX_FILES = 64

# optimized-plan node names that cannot INCREASE row count or byte size
# relative to the scanned files (so footer stats stay upper bounds)
_ROW_PRESERVING_NODES = ("Project", "Filter", "Relation", "LogicalRelation")


def _scan_footer_stats(df: DataFrame, text_src_col: str,
                       doc_src_col: str = "doc_id"):
    """(rows_ub, text_encoded_bytes, exact_max_doc) from the input
    parquet footers, or None when the plan shape makes footer stats
    unusable.

    Only plans composed of Project/Filter over a single file scan are
    accepted — those can never have MORE rows than the files, so
    ``rows_ub`` is an upper bound for the small-build gate (an
    overestimate merely routes a filtered-small corpus to the
    distributed path, never the reverse).

    ``text_encoded_bytes`` is the text column's total_uncompressed_size
    — that is ENCODED (dictionary/RLE) bytes, which can be far SMALLER
    than the decoded text (measured: 160 MB of duplicated text reported
    as 22 KB), so it is valid ONLY as a "definitely big" signal
    (encoded > cap ⇒ raw > cap), never as proof of smallness; the
    byte-cap decision itself always runs the bounded octet_length job.

    ``exact_max_doc`` is the doc_id column-statistics max, only
    returned when the plan has NO Filter (a filter could remove the max
    row) and the column is a physical parquet integer (string/float
    stats would order lexicographically / inexactly). Replaces the gate
    jobs for big corpora with a driver footer walk (bytes read: footers
    only)."""
    from . import fsutil
    try:
        files = df.inputFiles()
        if not files or len(files) > GATE_FOOTER_MAX_FILES:
            return None
        if not all(f.endswith(".parquet") for f in files):
            return None
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        has_filter = False
        for line in plan.splitlines():
            node = line.lstrip(" +-:").split(" ", 1)[0]
            if not node:
                continue
            if node not in _ROW_PRESERVING_NODES:
                return None
            if node == "Filter":
                has_filter = True
        rows = 0
        text_bytes = 0
        text_found = False
        max_doc = None
        stats_ok = not has_filter
        for f in files:
            md = fsutil.parquet_file(f).metadata
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                row_grp = md.row_group(rg)
                for ci in range(row_grp.num_columns):
                    col = row_grp.column(ci)
                    name = col.path_in_schema.split(".", 1)[0]
                    if name == text_src_col:
                        text_bytes += col.total_uncompressed_size
                        text_found = True
                    elif name == doc_src_col and stats_ok:
                        st = col.statistics
                        if (st is None or not st.has_min_max
                                or col.physical_type not in
                                ("INT32", "INT64")):
                            stats_ok = False
                        else:
                            v = int(st.max)
                            max_doc = v if max_doc is None else max(max_doc, v)
        return (rows, text_bytes if text_found else None,
                max_doc if stats_ok else None)
    except Exception:
        return None


def _plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for ``df`` (for file sources: the
    sum of input file sizes). Used ONLY to size output files when the
    caller did not pass ``term_partitions`` — a wrong estimate changes
    file sizes, never results. 0 when unavailable or when the source is
    not file-backed (in-memory relations report a huge default)."""
    try:
        if not df.inputFiles():
            return 0
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 0


def _committed_groups(marker_dir: str, plan: dict) -> set:
    """Group ids whose ``.done`` marker is committed under ``marker_dir``.

    Raises ValueError naming the first plan field in which a marker
    differs from ``plan``: resuming under another plan would mix files
    of two layouts into one (wrong) index."""
    done = set()
    for name in sorted(fsutil.listdir(marker_dir)):
        if not name.endswith(".done"):
            continue
        marker = fsutil.read_json(fsutil.join(marker_dir, name))
        for key, want in plan.items():
            if marker.get(key) != want:
                raise ValueError(
                    f"cannot resume: {key}={want!r}, but committed group "
                    f"marker {name} has {key}={marker.get(key)!r}; "
                    "rebuild with resume=False")
        done.add(int(marker["group"]))
    return done


def _build_group(df: DataFrame, fid, lo: int, hi: int, n_files: int,
                 builder, postings_dir: str, doclens_dir: str) -> None:
    """One group job: build final files ``[lo, hi)`` of ``n_files``.

    The kernel names its doclens files by fid; the postings files Spark
    writes (named by partition) move to names fixed by fid. A re-run
    rewrites the same names, so a group killed mid-way is just run
    again."""
    if hi - lo < n_files:
        df = df.filter((fid >= lo) & (fid < hi))
    tmp = fsutil.join(postings_dir, f"_group_{lo}")  # hidden from readers
    repartition_exact(df, fid - lo, hi - lo) \
        .mapInPandas(_make_partition_kernel(builder, doclens_dir, lo),
                     POSTINGS_SCHEMA) \
        .write.mode("overwrite") \
        .option("parquet.block.size", str(PARQUET_ROW_GROUP_BYTES)) \
        .parquet(tmp)
    for name in fsutil.listdir(tmp):
        m = re.match(r"part-(\d+)-.*-(c\d+\..*parquet)$", name)
        if m is None:
            continue  # _SUCCESS, .crc
        src = fsutil.join(tmp, name)
        # Spark writes partition 0's file even when it is empty; dropping
        # it keeps the file set independent of the group count
        if int(m[1]) == 0 and fsutil.parquet_file(src).metadata.num_rows == 0:
            continue
        commit.move(src, fsutil.join(
            postings_dir, f"part-{lo + int(m[1]):05d}-{m[2]}"))
    commit.delete(tmp)


def _build_index_fused(spark, df: DataFrame, index_path: str, builder,
                       docs_per_block: int, term_partitions: Optional[int],
                       tokenizer_name: str, truncate: bool, t_start: float,
                       tokenizer_fn, phases: dict,
                       known_max_doc: Optional[int] = None,
                       checkpoint_groups: int = 1, resume: bool = False):
    """Single-pass distributed build, run as one or more group jobs.

    First-principles shape (guide §1.1/§8): the text must cross the
    network once (to group whole doc blocks per output file) and the
    index bytes must be written once. This path does exactly that:

      1. ONE cheap column-pruned agg learns max(doc_id) => n_blocks,
         and the file count ``T`` (``term_partitions``) is fixed.
      2. The pass: ONE exchange places contiguous block ranges into
         final file ids ``fid = block_id * T // n_blocks`` (exact
         placement — no sampling pass, no skew), where the partition
         kernel tokenizes + encodes its blocks, side-writes the file's
         doclens (tiny; corpus stats ride in its parquet footer), and
         emits the file's postings rows term-sorted — which the SAME
         job's parquet write lands as the final single-row-group
         block-range file. No stage table, no second shuffle of index
         bytes, no re-read of the corpus.
      3. term_stats derive from the postings table's METADATA columns
         (columnar scan skips the packed binary; same trick merge.py
         uses); then one footer walk yields the corpus stats and
         meta.json commits the index.

    The pass runs as ``G`` group jobs, each over a contiguous fid range
    (``checkpoint_groups``, raised so that no job places more than
    PROBE_MAX_PARTITIONS files). Each group commits
    ``_groups/group_{g}_of_{G}.done`` holding the build plan; with
    ``resume`` a group whose marker exists is skipped, and a marker of
    another plan raises ValueError. ``G = 1`` is one build-pass job.
    Step 3 runs once, after the last group.
    """
    from .index import SearchIndex

    # --- n_blocks from max(doc_id): column-pruned, and on parquet
    # sources spark.sql.parquet.aggregatePushdown can answer it from
    # footer statistics without scanning rows. Free when the caller
    # assigned dense ids itself (order_col path). ---
    t_p = time.time()
    if known_max_doc is not None:
        max_doc = known_max_doc
    else:
        max_doc = df.agg(F.max("doc_id")).collect()[0][0]
    phases["n_blocks_agg"] = round(time.time() - t_p, 3)
    n_blocks = int(max_doc // docs_per_block) + 1 if max_doc is not None else 1

    if term_partitions is None:
        # target ~64 MB postings files. The layout must be fixed BEFORE
        # the pass, so size from the input estimate: compressed corpus
        # bytes ~ compressed postings bytes (measured 0.8-1.3x on the
        # bench corpora). Still data-sized, never core-count-sized.
        est = _plan_size_estimate(df)
        term_partitions = max(4, spark.sparkContext.defaultParallelism,
                              -(-est // (64 << 20)) if est > 0 else 0)
    groups = max(1, checkpoint_groups,
                 -(-term_partitions // PROBE_MAX_PARTITIONS))
    plan = {"docs_per_block": docs_per_block, "n_blocks": n_blocks,
            "term_partitions": term_partitions, "groups": groups,
            "tokenizer": tokenizer_name, "truncate": truncate}

    granularity = bounds_granularity(n_blocks)
    postings_dir = fsutil.join(index_path, "postings")
    doclens_dir = fsutil.join(index_path, "doclens")
    ts_dir = fsutil.join(index_path, "term_stats")
    marker_dir = fsutil.join(index_path, "_groups")
    metrics_path = fsutil.join(index_path, "metrics.jsonl")
    done = _committed_groups(marker_dir, plan) if resume else set()
    # no file of an earlier build survives, except the committed groups
    # a resume continues from
    commit.begin(index_path, resume=bool(done))

    # --- THE pass: text exchanged once into final-file partitions ---
    t_p = time.time()
    fid = F.floor(F.col("block_id") * F.lit(int(term_partitions))
                  / F.lit(int(max(n_blocks, 1))))
    # AQE has nothing to optimize here (fixed REPARTITION_BY_NUM width,
    # no joins, partition coalescing already disabled) but its stage
    # materialization adds a scheduling round — measured ~0.1-0.2 s per
    # pass at bench scale, pure overhead at any scale
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for g in range(groups):
            if g in done:
                continue
            g_start = time.time()
            lo = g * term_partitions // groups
            hi = (g + 1) * term_partitions // groups
            if hi > lo:
                _build_group(df, fid, lo, hi, term_partitions, builder,
                             postings_dir, doclens_dir)
            secs = round(time.time() - g_start, 3)
            commit.write_json(
                fsutil.join(marker_dir, f"group_{g}_of_{groups}.done"),
                {"group": g, **plan, "secs": secs})
            commit.append_line(metrics_path, {
                "stage": "build_group", "group": g, "groups": groups,
                "fids": [lo, hi], "secs": secs})
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    # drop stray tmp files from failed/retried task attempts
    for name in fsutil.listdir(doclens_dir):
        if name.endswith(".tmp"):
            commit.delete(fsutil.join(doclens_dir, name))
    # every postings file needs its doclens file: a side-write the
    # driver cannot see (a store the executors do not share) must fail
    # the build, never commit an index with missing docs
    dl_names = set(fsutil.listdir(doclens_dir))
    for name in fsutil.listdir(postings_dir):
        m = re.match(r"part-(\d+)-", name)
        if m and f"part-{m[1]}.parquet" not in dl_names:
            raise RuntimeError(
                f"build of {index_path!r}: postings file {name} has no "
                f"doclens file part-{m[1]}.parquet")
    phases["build_pass"] = round(time.time() - t_p, 3)

    # empty-corpus guard: a write with zero rows leaves no readable files
    import pyarrow as pa
    _ensure_parquet_dir(postings_dir, pa.schema([
        ("term", pa.string()), ("block_id", pa.int64()),
        ("postings", pa.binary()), ("df", pa.int64()),
        ("tf_total", pa.int64()), ("tf_max", pa.int64()),
        ("dl_min", pa.int64())]))
    _ensure_parquet_dir(doclens_dir, pa.schema([
        ("block_id", pa.int64()), ("doc_ids", pa.binary()),
        ("doc_lens", pa.binary())]))

    # --- term sketches from the postings table's metadata columns (the
    # packed binary column never leaves the parquet scan). Small
    # indexes aggregate driver-side (pyarrow columnar read of the 6
    # metadata columns — the binary stays on disk — then one pandas
    # groupby; same code as the driver-local build), skipping a Spark
    # job whose shuffle+gather fixed cost dwarfs a KB-sized sketch
    # table. Large indexes run the distributed two-phase agg at a
    # DATA-sized width. ---
    t_p = time.time()

    def _pq_bytes(root: str) -> int:
        return sum(sz for _p, sz in fsutil.list_parquet_files(root))

    postings_bytes = _pq_bytes(postings_dir)
    if postings_bytes <= TS_LOCAL_MAX_POSTINGS_BYTES:
        # read_dictionary: the term column comes back as the parquet
        # dictionary pages directly — no per-row string materialization
        meta_tbl = fsutil.read_parquet(
            postings_dir, columns=["term", "block_id", "df", "tf_total",
                                   "tf_max", "dl_min"],
            read_dictionary=["term"])
        _write_term_stats_pdf(meta_tbl, ts_dir, granularity)
    else:
        posts_meta = spark.read.parquet(postings_dir).select(
            "term", "block_id", "df", "tf_total", "tf_max", "dl_min")
        # width sized from the index bytes (data-sized: identical layout
        # at any core count), not from term_partitions — the sketch
        # table is a small fraction of the postings bytes
        ts_width = max(1, min(int(term_partitions),
                              int(-(-postings_bytes // (64 << 20)))))
        write_term_stats(posts_meta, ts_dir, ts_width, granularity)
    _ensure_parquet_dir(ts_dir, pa.schema([
        ("term", pa.string()), ("df", pa.int64()), ("tf_total", pa.int64()),
        ("n_blocks", pa.int64()), ("grp_ids", pa.binary()),
        ("grp_tf_max", pa.binary()), ("grp_dl_min", pa.binary())]))
    phases["term_stats"] = round(time.time() - t_p, 3)

    # --- corpus stats + alignment verification: one driver footer walk
    # over the tables just written (bytes read: footers only) ---
    t_p = time.time()
    num_docs = 0
    total_tokens = 0.0
    for fp, _sz in fsutil.list_parquet_files(doclens_dir):
        md = fsutil.parquet_file(fp).metadata.metadata or {}
        num_docs += int(md.get(b"n_docs", b"0"))
        total_tokens += float(md.get(b"total_tokens", b"0"))
    srg = verify_single_row_group(postings_dir)
    phases["stats_verify"] = round(time.time() - t_p, 3)

    secs = round(time.time() - t_start, 3)
    commit.publish(index_path, {
        "tokenizer": tokenizer_name,
        "docs_per_block": docs_per_block,
        "truncate": truncate,
        "num_docs": num_docs,
        "total_tokens": total_tokens,
        "bounds_granularity": granularity,
        "postings_single_row_group": bool(srg),
        "build_secs": secs,
    })
    commit.append_line(metrics_path, {
        "stage": "finalize", "num_docs": num_docs,
        "total_tokens": total_tokens,
        "secs": secs,
        "phases": phases,
        "docs_per_sec": round(num_docs / max(secs, 1e-9), 1),
        "tokens_per_sec": round(total_tokens / max(secs, 1e-9), 1),
        "fused_build": True,
        "postings_bytes": postings_bytes,
        "doclens_bytes": _pq_bytes(doclens_dir),
        "term_stats_bytes": _pq_bytes(ts_dir),
    })
    return SearchIndex(spark, index_path, tokenizer=tokenizer_fn)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_path: str,
    text_col: str = "text",
    tokens_col: Optional[str] = None,
    doc_id_col: Optional[str] = None,
    order_col: Optional[str] = None,
    tokenizer: str = "ws",
    docs_per_block: int = DEFAULT_DOCS_PER_BLOCK,
    truncate: bool = False,
    term_partitions: Optional[int] = None,
    checkpoint_groups: int = 1,
    resume: bool = False,
    max_words_per_row: int = 131072,
):
    """Build the inverted index; returns a loaded ``SearchIndex``.

    Small corpora build driver-locally (``_build_index_local``); every
    other build is the one distributed pass of ``_build_index_fused``.
    ``checkpoint_groups`` > 1 runs that pass as group jobs over
    contiguous ranges of output files that commit independently;
    ``resume=True`` skips the committed groups of a killed build (same
    output files as a one-group build).

    ``tokens_col`` builds from a pre-tokenized ``array<string>`` column
    (reference S3, indexing.py:298-342) — no tokenizer runs at build
    time; ``tokenizer`` still names the query-side tokenizer.
    """
    commit.store(index_path)  # an unwritable store fails before any job
    tokenizer_fn = tokenizers.resolve(tokenizer)
    try:
        tokenizer_name = tokenizers.name_of(tokenizer)
    except ValueError:
        tokenizer_name = "custom"
    t_start = time.time()

    in_col = tokens_col if tokens_col is not None else text_col
    known_max_doc: Optional[int] = None  # threaded to the fused path
    if doc_id_col is not None:
        df = corpus.withColumnRenamed(doc_id_col, "doc_id") if doc_id_col != "doc_id" else corpus
        df = df.select(F.col("doc_id").cast("long"), F.col(in_col).alias("text"))
    else:
        if order_col is None:
            raise ValueError("need doc_id_col or order_col for deterministic doc ids")
        df, _n_assigned = _assign_doc_ids_counted(
            corpus.select(F.col(order_col), F.col(in_col).alias("text")),
            order_col)
        df = df.select("doc_id", "text")
        # dense ids 0..N-1: the fused path's n_blocks agg is free
        known_max_doc = _n_assigned - 1 if _n_assigned else None

    df = df.withColumn("block_id", F.floor(F.col("doc_id") / F.lit(docs_per_block)))

    builder = _make_block_builder(tokenizer_fn, docs_per_block, truncate,
                                  max_words_per_row,
                                  pretokenized=tokens_col is not None)

    phases: dict = {}

    if checkpoint_groups <= 1 and not resume:
        # --- small-build gate, cheapest evidence first ---
        # 1. plan-size estimate (no I/O): compressed input > 64 MB
        #    already proves raw text > SMALL_BUILD_MAX_BYTES — big
        #    corpora never run a single gate job.
        # 2. input parquet footers (driver, footer bytes only): exact
        #    row count upper bound + raw text bytes upper bound + (when
        #    the plan has no Filter) the exact max doc_id — the common
        #    "build from a parquet table" case decides the gate AND the
        #    fused path's n_blocks with ZERO Spark jobs.
        # 3. fallback probe jobs: an incremental take() of doc_id only
        #    (CollectLimit answers after ~one split; no text pages are
        #    decompressed), plus a bounded byte-sum job when small, with
        #    the fused path's max(doc_id) agg overlapped on a thread
        #    (guide §2.6).
        t_p = time.time()
        est = _plan_size_estimate(df)
        footer = (None if est > SMALL_BUILD_MAX_BYTES
                  else _scan_footer_stats(df, in_col,
                                          doc_src_col=doc_id_col or "doc_id"))
        max_doc = None
        rows_maybe_small = True  # until proven otherwise
        is_small: Optional[bool] = None
        if est > SMALL_BUILD_MAX_BYTES:
            # compressed input beyond the cap => raw text beyond the cap
            is_small = False
        elif footer is not None:
            rows_ub, text_enc_bytes, footer_max = footer
            if known_max_doc is None:
                known_max_doc = footer_max  # may be None (filtered scan)
            if rows_ub > SMALL_BUILD_MAX_DOCS:
                is_small = False
            elif (text_enc_bytes is not None
                    and text_enc_bytes > SMALL_BUILD_MAX_BYTES):
                # encoded bytes already exceed the cap => raw does too.
                # (The converse NEVER proves smallness: dictionary/RLE
                # encoding can shrink the footer number by orders of
                # magnitude below the decoded text.)
                is_small = False
            # else: row count small — raw byte cap still needs the
            # bounded job below
        max_fut = None
        pool = None
        if is_small is None:
            from concurrent.futures import ThreadPoolExecutor
            if known_max_doc is None:
                pool = ThreadPoolExecutor(1)
                max_fut = pool.submit(
                    lambda: df.agg(F.max("doc_id")).collect()[0][0])
            if footer is None:
                probe = df.select("doc_id").take(SMALL_BUILD_MAX_DOCS + 1)
                rows_maybe_small = len(probe) <= SMALL_BUILD_MAX_DOCS
                max_doc = (max((r["doc_id"] for r in probe), default=None)
                           if rows_maybe_small else None)
            if rows_maybe_small:
                if tokens_col is None:
                    nb = F.octet_length("text")
                else:
                    # pretokenized: per-doc size ~ token bytes + slack
                    nb = F.expr(
                        "aggregate(text, 0L, (a, x) -> a + octet_length(x) + 8L)")
                total_bytes = df.select(nb.alias("nb")) \
                    .limit(SMALL_BUILD_MAX_DOCS + 1) \
                    .agg(F.sum("nb")).collect()[0][0] or 0
                is_small = total_bytes <= SMALL_BUILD_MAX_BYTES
            else:
                is_small = False
        phases["probe"] = round(time.time() - t_p, 3)
        if is_small:
            # driver-local fast path: identical layout, zero Spark jobs
            # past this toPandas — update segments and toy benches
            # skip the fixed scheduling overhead of distributed build
            # jobs
            pdf = df.select("doc_id", "text", "block_id").toPandas()
            if max_doc is None:
                max_doc = (int(pdf["doc_id"].max()) if len(pdf)
                           else None)
            n_blocks = (int(max_doc // docs_per_block) + 1
                        if max_doc is not None else 1)
            commit.begin(index_path)
            tp = term_partitions or max(
                1, min(4, spark.sparkContext.defaultParallelism))
            if pool is not None:
                pool.shutdown(wait=False)
            return _build_index_local(
                spark, pdf, index_path, builder, docs_per_block, n_blocks, tp,
                tokenizer_name, truncate, t_start, tokenizer_fn)
        if max_fut is not None:
            known_max_doc = max_fut.result()
            pool.shutdown(wait=False)
    return _build_index_fused(
        spark, df, index_path, builder, docs_per_block, term_partitions,
        tokenizer_name, truncate, t_start, tokenizer_fn, phases,
        known_max_doc=known_max_doc, checkpoint_groups=checkpoint_groups,
        resume=resume)
