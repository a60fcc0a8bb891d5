"""Query side: SearchIndex over the on-disk index tables.

API parity with the reference array surface
(/root/reference/searcharray/postings.py:607-708 — termfreqs, docfreq,
doclengths, positions, score) re-expressed as sparse DataFrames:
results are (doc_id, tf|score) rows, never dense arrays, until a test
helper densifies at small scale.

Query execution model (no shuffle at query time):
- postings scan is pruned to the query terms (pushed-down ``term IN
  (...)`` filter + row-group min/max pruning on the within-file term
  sort; storage is document-partitioned so hot terms scan in parallel),
- hits are computed block-locally inside ``mapInPandas`` numpy kernels:
  postings files are scan-aligned (one row group per file => whole doc
  blocks per scan partition, see ``_files_aligned``), and each block's
  packed doclens row comes from a session broadcast (small corpora) or
  a per-task side-input read of the co-partitioned doclens file
  (``DoclensReader``) — never a cogroup/shuffle,
- block pruning and WAND bounds are driver math over per-term sketches
  (``TermSketch``) read once per term from term_stats with pyarrow:
  only the row groups whose term range holds a queried term are read,
  and no Spark job runs,
- only (doc_id, score) survivors leave the kernel; global top-k is
  Spark's TakeOrdered (per-partition top-k, then driver merge). Batch
  (``top_k_many``) and pruned (``top_k_pruned``) top-k keep each
  partition's top-k in the kernel and merge on the driver, so every
  distributed query runs exactly one Spark job: the scoring scan.
"""
from __future__ import annotations

import json
import os
from typing import Iterable, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

try:  # classic (non-connect) DataFrame: the concrete implementation
    from pyspark.sql.classic.dataframe import DataFrame as _BaseDataFrame
except ImportError:  # pragma: no cover - older/connect layouts
    _BaseDataFrame = DataFrame

from . import fsutil
from . import kernels as K
from . import similarity as sim_mod
from . import tokenizers

TokenArg = Union[str, Sequence[str]]

HITS_SCHEMA = StructType([
    StructField("token_idx", IntegerType()),
    StructField("doc_id", LongType()),
    StructField("tf", FloatType()),
    StructField("score", FloatType()),
])

TOPK_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("score", FloatType()),
])

TOPK_MANY_SCHEMA = StructType([
    StructField("token_idx", IntegerType()),
    StructField("doc_id", LongType()),
    StructField("score", FloatType()),
    StructField("rank", IntegerType()),
])


def _arrow_schema_of(schema: StructType):
    cached = _arrow_schema_cache.get(id(schema))
    if cached is not None and cached[0] is schema:
        return cached[1]
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow_schema = to_arrow_schema(schema)
    # the cache pins the schema object, so its id stays valid
    _arrow_schema_cache[id(schema)] = (schema, arrow_schema)
    return arrow_schema


_arrow_schema_cache: dict = {}

_LAZY_OK_TYPES = (LongType, IntegerType, FloatType, DoubleType, StringType,
                  BooleanType)


def _materialize_local_df(spark: SparkSession, pdf: pd.DataFrame,
                          schema: StructType) -> DataFrame:
    import pyarrow as pa
    tbl = pa.Table.from_pandas(pdf, schema=_arrow_schema_of(schema),
                               preserve_index=False)
    return spark.createDataFrame(tbl, schema)


def _pdf_to_rows(pdf: pd.DataFrame, schema: StructType) -> list:
    """list[Row] exactly as Spark's collect() of the same LocalRelation
    would return for primitive columns: numpy dtypes widen through
    .tolist() the same way Arrow collect widens them (float32 -> the
    identical double, int32/int64 -> int, bool -> bool)."""
    from pyspark.sql import Row
    factory = Row(*[f.name for f in schema.fields])
    cols = [pdf[f.name].tolist() for f in schema.fields]
    return [factory(*vals) for vals in zip(*cols)]


class _LazyLocalFrame(_BaseDataFrame):
    """DataFrame over a driver-held pandas result (driver-local query
    path). ``collect()``/``toPandas()``/``count()`` serve the rows
    directly — zero JVM round trips, the dominant cost of a small-index
    query once the kernels run driver-side (profiled: ~2 ms kernel vs
    ~35 ms createDataFrame+collect py4j fixed cost). ANY other use
    (select, filter, join, explain, write, ...) transparently
    materializes a real LocalRelation via the ``_jdf`` property, so the
    object stays a fully functional DataFrame. Only built for all-
    primitive schemas, where the pandas <-> Row/toPandas conversions
    are exactly Spark's."""

    def __new__(cls, *args, **kwargs):
        # bypass DataFrame.__new__'s (jdf, session) dispatch signature
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, pdf: pd.DataFrame,
                 schema: StructType):
        # mirrors DataFrame.__init__(jdf, session) attrs minus _jdf,
        # which is lazy below
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._llf_pdf = pdf
        self._llf_schema = schema
        self._llf_jdf = None

    @property
    def _jdf(self):
        if self._llf_jdf is None:
            self._llf_jdf = _materialize_local_df(
                self._session, self._llf_pdf, self._llf_schema)._jdf
        return self._llf_jdf

    @_jdf.setter
    def _jdf(self, value):
        self._llf_jdf = value

    @property
    def schema(self) -> StructType:
        return self._llf_schema

    @property
    def columns(self) -> list:
        return [f.name for f in self._llf_schema.fields]

    @property
    def dtypes(self) -> list:
        return [(f.name, f.dataType.simpleString())
                for f in self._llf_schema.fields]

    def collect(self) -> list:
        return _pdf_to_rows(self._llf_pdf, self._llf_schema)

    def toPandas(self) -> pd.DataFrame:
        return self._llf_pdf.copy()

    def count(self) -> int:
        return len(self._llf_pdf)


def _local_df(spark: SparkSession, pdf: pd.DataFrame,
              schema: StructType) -> DataFrame:
    """DataFrame for a driver-computed result — a _LazyLocalFrame for
    primitive schemas (collect/toPandas with zero JVM round trips), else
    an eager LocalRelation, which is still a LocalTableScan whose
    collect() is job-free, even for 0 rows (plain createDataFrame falls
    back to an RDD-backed plan for empty input, costing a real Spark job
    per action — measured 0.25 s, the whole point of the driver-local
    query path)."""
    if all(isinstance(f.dataType, _LAZY_OK_TYPES)
           for f in schema.fields):
        return _LazyLocalFrame(spark, pdf, schema)
    return _materialize_local_df(spark, pdf, schema)


def _rank_by_token(cols: dict, k: int) -> dict:
    """Rank the rows of ``cols`` (parallel numpy arrays, among them
    token_idx, doc_id and score) within each token_idx under (score
    desc, doc_id asc), the total order of the reference's SetOfResults
    (utils/sort.py:21-45), and keep ranks <= k. Returns the kept rows'
    arrays plus an int32 ``rank`` array (1-based). float32 -> float64
    is exact, so the order matches Spark's on the same float column."""
    ti = cols["token_idx"]
    order = np.lexsort((cols["doc_id"], -cols["score"].astype(np.float64),
                        ti))
    ti = ti[order]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(ti)) + 1))
    widths = np.diff(np.concatenate((starts, [len(ti)])))
    rank = np.arange(len(ti), dtype=np.int64) - np.repeat(starts, widths) + 1
    keep = rank <= k
    out = {c: a[order[keep]] for c, a in cols.items()}
    out["rank"] = rank[keep].astype(np.int32)
    return out


def _read_term_rows(root: str, terms: Sequence[str],
                    cols: List[str]) -> List[dict]:
    """The rows of ``terms`` (non-empty) in the term_stats table at
    ``root``, as dicts over ``cols``, read on the driver with pyarrow:
    no Spark job. One equality per term, not an ``in`` filter: pyarrow
    skips a row group by its footer term min/max only for equalities,
    and the writers keep term_stats row groups small and term-sorted
    (indexing.TERM_STATS_ROW_GROUP_ROWS), so a lookup decodes
    O(queried terms) row groups, not the whole table."""
    return fsutil.read_parquet(
        root, columns=cols,
        filters=[[("term", "=", t)] for t in terms]).to_pylist()


def _ub_of(entry, block_id: int) -> float:
    """Per-token upper bound for one block from the (blocks, ubs)
    arrays _block_bounds builds; 0.0 when the sketch says the token is
    absent from the block."""
    bl, ub = entry
    pos = int(np.searchsorted(bl, block_id))
    return float(ub[pos]) if pos < len(bl) and bl[pos] == block_id else 0.0


def _empty_positions_pdf() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                         "posns": pd.Series([], dtype=object)})


def _empty_hits_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {"token_idx": pd.Series([], dtype="int32"),
         "doc_id": pd.Series([], dtype="int64"),
         "tf": pd.Series([], dtype="float32"),
         "score": pd.Series([], dtype="float32")})


POSITIONS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("posns", ArrayType(IntegerType())),
])


def patch_doclens(rows) -> tuple:
    """Merge per-block packed doclens rows by segment priority: later
    segments override a doc's length and may add docs. ``rows`` is an
    iterable of (seg, doc_ids_bytes, doc_lens_bytes); returns sorted
    (ids int64 array, lens float32 array)."""
    ids = None
    lens = None
    for _, ir, lr in sorted(rows, key=lambda r: r[0]):
        i = np.frombuffer(ir, dtype="<i8")
        ln = np.frombuffer(lr, dtype="<f4")
        if ids is None:
            ids, lens = i, ln
            continue
        all_ids = np.union1d(ids, i)
        new_lens = np.empty(len(all_ids), dtype=np.float32)
        pos = np.searchsorted(ids, all_ids)
        pos_c = np.minimum(pos, len(ids) - 1)
        m_old = ids[pos_c] == all_ids
        new_lens[m_old] = lens[pos_c[m_old]]
        pos = np.searchsorted(i, all_ids)
        pos_c = np.minimum(pos, len(i) - 1)
        m_new = i[pos_c] == all_ids
        new_lens[m_new] = ln[pos_c[m_new]]  # later segment wins
        ids, lens = all_ids, new_lens
    return ids, lens


class TermSketch:
    """Driver-side per-term block metadata, decoded from ONE term_stats
    row per index segment: block-presence intervals + per-group block-max
    bounds (tf_max, dl_min). Everything block pruning and WAND bounds
    need, in O(groups) bytes — never an O(terms x blocks) row collect.

    ``parts`` is one (starts, ends, tf_max, dl_min) tuple per segment
    source (base + update segs), intervals sorted and non-overlapping
    within a part; ends exclusive, in BLOCK units (group granularity may
    differ per segment)."""

    __slots__ = ("df", "parts")

    def __init__(self, df: int, parts):
        self.df = df
        self.parts = parts

    def covered(self) -> int:
        """Upper bound on the number of blocks holding this term."""
        return int(sum(int((e - s).sum()) for s, e, _, _ in self.parts))

    def expand(self, cap: int) -> Optional[np.ndarray]:
        """All covered block ids (sorted unique), or None if > cap."""
        if self.covered() > cap:
            return None
        out = []
        for s, e, _, _ in self.parts:
            widths = (e - s).astype(np.int64)
            if widths.sum() == 0:
                continue
            # vectorized range expansion: repeat starts, add per-run offsets
            offs = np.arange(widths.sum(), dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(widths)[:-1])), widths)
            out.append(np.repeat(s, widths) + offs)
        if not out:
            return np.zeros(0, dtype=np.int64)
        return np.unique(np.concatenate(out))

    def contains(self, blocks: np.ndarray) -> np.ndarray:
        """Bool mask: block covered by any part's intervals."""
        mask = np.zeros(len(blocks), dtype=bool)
        for s, e, _, _ in self.parts:
            if len(s) == 0:
                continue
            idx = np.searchsorted(s, blocks, side="right") - 1
            ok = idx >= 0
            mask |= ok & (blocks < e[np.maximum(idx, 0)])
        return mask

    def bounds_at(self, blocks: np.ndarray):
        """(tf_max, dl_min) upper/lower bounds per block (caller must
        restrict to contained blocks; uncontained get (0, 0))."""
        tf = np.zeros(len(blocks), dtype=np.int64)
        dl = np.full(len(blocks), np.iinfo(np.int64).max, dtype=np.int64)
        for s, e, tmx, dmn in self.parts:
            if len(s) == 0:
                continue
            idx = np.searchsorted(s, blocks, side="right") - 1
            ok = (idx >= 0) & (blocks < e[np.maximum(idx, 0)])
            i = idx[ok]
            tf[ok] = np.maximum(tf[ok], tmx[i])
            dl[ok] = np.minimum(dl[ok], dmn[i])
        dl[dl == np.iinfo(np.int64).max] = 0
        return tf, dl


# --- side-input doclens (co-partitioned with postings by block range) ----

_DL_FILE_CACHE: "dict[str, dict]" = {}
_DL_FILE_CACHE_MAX = 64


def _load_doclens_file(path: str) -> dict:
    """Read one doclens parquet file -> {block_id: (ids_bytes, lens_bytes)}.
    Process-wide cache: python workers are reused across tasks/queries, so
    each executor decodes a doclens file once, not per task."""
    hit = _DL_FILE_CACHE.get(path)
    if hit is not None:
        return hit
    tbl = fsutil.read_parquet(path,
                              columns=["block_id", "doc_ids", "doc_lens"])
    out = {}
    for b, i, ln in zip(tbl.column("block_id").to_pylist(),
                        tbl.column("doc_ids").to_pylist(),
                        tbl.column("doc_lens").to_pylist()):
        out[int(b)] = (i, ln)
    if len(_DL_FILE_CACHE) >= _DL_FILE_CACHE_MAX:
        _DL_FILE_CACHE.pop(next(iter(_DL_FILE_CACHE)))
    _DL_FILE_CACHE[path] = out
    return out


_TOMB_FILE_CACHE: dict = {}
_TOMB_FILE_CACHE_MAX = 64


def _load_tomb_file(path: str) -> dict:
    """Read one packed-tombstone parquet file ->
    {block_id: (local doc_ids int64, segs int64)}; process-wide cache
    (same executor-reuse rationale as _load_doclens_file)."""
    hit = _TOMB_FILE_CACHE.get(path)
    if hit is not None:
        return hit
    tbl = fsutil.read_parquet(path, columns=["block_id", "doc_ids", "segs"])
    out = {}
    for b, i, s in zip(tbl.column("block_id").to_pylist(),
                       tbl.column("doc_ids").to_pylist(),
                       tbl.column("segs").to_pylist()):
        out[int(b)] = (np.frombuffer(i, dtype="<i8"),
                       np.frombuffer(s, dtype="<i8"))
    if len(_TOMB_FILE_CACHE) >= _TOMB_FILE_CACHE_MAX:
        _TOMB_FILE_CACHE.pop(next(iter(_TOMB_FILE_CACHE)))
    _TOMB_FILE_CACHE[path] = out
    return out


class TombstoneReader:
    """Side-input tombstone lookup for mass deletes: above the driver
    cap the tombstone set lives in a block-range-partitioned parquet
    side table (tombstones_packed/) and kernels resolve a block's
    tombstones by reading only the file covering it — the DoclensReader
    pattern — instead of a driver dict + broadcast that grows
    O(deletes) on the driver. Same .get(block) -> (local_ids, segs)
    contract as the dict."""

    def __init__(self, ranges):
        self.ranges = ranges  # [(path, lo_block, hi_block)]

    def __bool__(self) -> bool:
        return bool(self.ranges)

    def get(self, block_id: int):
        for path, lo, hi in self.ranges:
            if lo <= block_id <= hi:
                row = _load_tomb_file(path).get(int(block_id))
                if row is not None:
                    return row
        return None


def _parquet_row_count(root: str) -> int:
    """Total rows under a parquet dir from footers only (no data read);
    path or URI (fsutil)."""
    return sum(fsutil.parquet_file(f).metadata.num_rows
               for f, _ in fsutil.list_parquet_files(root))


def scan_doclens_ranges(sources) -> list:
    """[(seg, file, min_block, max_block)] for every parquet file under
    each (seg, root) source, from parquet footer stats — driver-side,
    O(files) footer reads, no data read. The block->file map DoclensReader
    side-input lookups use (query path and compaction both)."""
    out = []
    for seg, root in sources:
        for p, _sz in fsutil.list_parquet_files(root):
                md = fsutil.parquet_file(p).metadata
                lo = hi = None
                for rg in range(md.num_row_groups):
                    row_grp = md.row_group(rg)
                    for ci in range(row_grp.num_columns):
                        col = row_grp.column(ci)
                        if col.path_in_schema != "block_id":
                            continue
                        st = col.statistics
                        if st is not None and st.has_min_max:
                            lo = int(st.min) if lo is None else min(lo, int(st.min))
                            hi = int(st.max) if hi is None else max(hi, int(st.max))
                if lo is None:  # stats disabled: read the tiny column
                    ids = fsutil.read_parquet(p, columns=["block_id"]) \
                        .column(0).to_pylist()
                    if not ids:
                        continue
                    lo, hi = int(min(ids)), int(max(ids))
                out.append((seg, p, lo, hi))
    return out


class DoclensReader:
    """Executor-side doclens lookup without broadcast or shuffle.

    Doclens files are range-partitioned by block_id exactly like the
    postings (indexing.py), so a kernel task resolves a block's packed
    doclens by reading ONLY the file(s) whose footer block range covers
    it (ranges resolved once on the driver). At 100 TB this reads a few
    MB per task instead of broadcasting GBs of doclens to every worker.
    Update segments patch by seg priority, same as the broadcast path.
    """

    def __init__(self, ranges):
        # [(seg, path, lo_block, hi_block)], base seg first
        self.ranges = ranges

    def get(self, block_id: int):
        rows = []
        for seg, path, lo, hi in self.ranges:
            if lo <= block_id <= hi:
                row = _load_doclens_file(path).get(block_id)
                if row is not None:
                    rows.append((seg, row[0], row[1]))
        if not rows:
            return None
        if len(rows) == 1:
            return rows[0][1], rows[0][2]
        ids, lens = patch_doclens(rows)
        return ids.astype("<i8").tobytes(), lens.astype("<f4").tobytes()


def _normalize_token(token: TokenArg) -> List[str]:
    if isinstance(token, str):
        return [token]
    toks = list(token)
    if not all(isinstance(t, str) for t in toks):
        raise ValueError(f"expected str or list of str, got {token!r}")
    return toks


class SearchIndex:
    """Handle to a built index (see indexing.build_index for the layout)."""

    def __init__(self, spark: SparkSession, path: str, tokenizer=None,
                 as_of: Optional[int] = None):
        self.spark = spark
        self.path = path
        # Iceberg-style snapshot read: every delete_docs/update_docs call
        # is an integer epoch (a commit); as_of=E serves the index exactly
        # as it stood after epoch E (as_of=0 = as built). Snapshot handles
        # are read-only; compaction expires history (like Iceberg snapshot
        # expiry) — as_of on a compacted index sees the compacted base.
        self.as_of = int(as_of) if as_of is not None else None
        if self.as_of is not None and self.as_of < 0:
            raise ValueError(f"as_of must be >= 0, got {as_of}")
        # Side-input kernels (DoclensReader) and driver metadata reads use
        # POSIX paths; a remote object-store index would need these routed
        # through pyarrow.fs.FileSystem.from_uri (ROADMAP). Fail fast with
        # a clear message instead of an executor-side FileNotFoundError.
        path = self.path = path.rstrip("/") or "/"
        # resolve the scheme through pyarrow.fs up front: every metadata
        # and side-input read below goes through fsutil, so a file://
        # URI exercises the exact route an object-store index would
        # (unsupported schemes fail fast with a clear message here)
        fsutil.resolve(path)
        self.meta = fsutil.read_json(fsutil.join(path, "meta.json"))
        self.docs_per_block = int(self.meta["docs_per_block"])
        self.num_docs = int(self.meta["num_docs"])
        self.avg_doc_len = float(self.meta["avg_doc_len"])
        # legacy index without total_tokens: derive it so delete/update
        # stats patches stay consistent instead of driving totals negative
        _tt = self.meta.get("total_tokens")
        self.total_tokens = (float(_tt) if _tt is not None
                             else self.avg_doc_len * self.num_docs)
        # as-built doc-id space: dense (test-parity) outputs keep this
        # shape even after deletes shrink the LIVE num_docs below it
        self.capacity = int(self.meta["num_docs"])
        patch = fsutil.join(path, "stats_patch.json")
        if self.as_of is not None:
            self._stats_need_asof = fsutil.exists(patch)
        elif fsutil.exists(patch):
            # live corpus stats after delete/update ops (exact deltas
            # applied by _patch_stats; compact resets by writing exact
            # stats into meta and no patch file)
            p = fsutil.read_json(patch)
            self.num_docs = int(p["num_docs"])
            self.total_tokens = float(p["total_tokens"])
            self.avg_doc_len = (self.total_tokens / self.num_docs
                                if self.num_docs else 0.0)
        if tokenizer is not None:
            self.tokenizer = tokenizers.resolve(tokenizer)
        elif self.meta["tokenizer"] == "custom":
            # built with an unregistered callable; query tokenization needs
            # the caller to supply it again
            self.tokenizer = None
        else:
            self.tokenizer = tokenizers.resolve(self.meta["tokenizer"])
        self._df_cache: dict = {}
        self._sketch_cache: dict = {}
        self._bounds_cache: dict = {}
        self._dl_ranges: list | None = None
        self._has_sketches: bool | None = None
        # cache() results; the plain reader frames are memoized apart so
        # an uncached table is schema-inferred (one Spark job) once per
        # handle, not once per query
        self._postings_df: DataFrame | None = None
        self._doclens_df: DataFrame | None = None
        self._readers: dict = {}
        if self.as_of is not None and getattr(self, "_stats_need_asof", False):
            self._apply_asof_stats()

    # Cache-gate for the POSTINGS table. Postings cache only when their
    # estimated in-memory size fits comfortably inside the cluster's
    # measured storage budget — at 100 TB nobody caches the postings
    # (you cache metadata and let the columnar scan stream), and an
    # oversized cache starves execution memory. An earlier fixed 2 GiB
    # cap came from a 16M-doc measurement (cached phrase top-k 40 s vs
    # 7.8 s uncached, GC stalls) that turned out to be an artifact of a
    # coarse 8 x 400 MB single-row-group layout: re-measured on the
    # data-sized ~64 MB layout (pinned local[8], 16M docs / 3.2 GB),
    # force-cached postings are 2.5x FASTER on hot single-term scans
    # (term_hot 5.7 -> 2.3 s) and within noise everywhere else. Doclens
    # / term stats always cache (small, metadata-sized).
    POSTINGS_CACHE_MAX_BYTES = 1 << 31  # fallback when capacity unknown
    CACHE_EXPANSION = 3  # deserialized columnar vs zstd parquet (~2x + margin)
    CACHE_STORAGE_FRACTION = 0.5  # leave half the unified region to execution

    def _storage_capacity_bytes(self) -> int:
        """Total BlockManager storage capacity across live EXECUTORS.
        In local mode the single entry is the driver=executor; in
        cluster mode the driver's own BlockManager is excluded when
        other entries exist (its storage holds no cached partitions, so
        counting it would overstate the cache budget). 0 when the
        internal API is unavailable (logged once: the gate then falls
        back to the fixed POSTINGS_CACHE_MAX_BYTES cap)."""
        try:
            jsc = self.spark.sparkContext._jsc.sc()
            status = jsc.getExecutorMemoryStatus()
            it = status.iterator()
            entries = []
            while it.hasNext():
                e = it.next()
                entries.append((str(e._1()), int(e._2()._1())))
            master = str(self.spark.sparkContext.master or "")
            if not master.startswith("local"):
                # cluster mode: exclude the driver's own BlockManager.
                # Status keys are "host:port" strings (verified — they
                # never literally say "driver"), so resolve the driver's
                # hostPort explicitly; on any failure count everything
                # (the documented overcount, biased permissive). A
                # driver-only listing (executors not yet registered /
                # dynamic allocation at zero) reports 0 = unknown, so
                # the gate falls back to the fixed cap instead of
                # sizing the cache against driver memory.
                try:
                    drv = str(jsc.env().blockManager()
                              .blockManagerId().hostPort())
                    return sum(b for k, b in entries if k != drv)
                except Exception:
                    pass
            return sum(b for _k, b in entries)
        except Exception:
            if not getattr(SearchIndex, "_capacity_probe_warned", False):
                SearchIndex._capacity_probe_warned = True
                import logging
                logging.getLogger(__name__).warning(
                    "executor memory-status probe failed (Spark internal "
                    "API changed?); postings cache gate falls back to the "
                    "fixed %d-byte cap", self.POSTINGS_CACHE_MAX_BYTES)
            return 0

    def _should_cache_postings(self) -> bool:
        need = self._postings_bytes() * self.CACHE_EXPANSION
        capacity = self._storage_capacity_bytes()
        if capacity <= 0:
            return need <= self.POSTINGS_CACHE_MAX_BYTES * self.CACHE_EXPANSION
        return need <= capacity * self.CACHE_STORAGE_FRACTION

    def cache(self, force: bool = False) -> "SearchIndex":
        """Persist the index tables in executor memory — amortizes the
        scan across repeated queries (the cluster-scale analogue:
        spark.catalog.cacheTable on the index tables). The postings
        table is only cached when it fits the measured storage budget
        (see note above) unless ``force=True``; doclens always cache."""
        posts, dls = self.postings, self.doclens
        if force or self._should_cache_postings():
            self._postings_df = posts.cache()
            self._postings_df.count()
        self._doclens_df = dls.cache()
        self._doclens_df.count()
        return self

    def _postings_bytes(self) -> int:
        total = 0
        roots = [fsutil.join(self.path, "postings")]
        roots += [fsutil.join(self.path, "updates", f"seg={s}", "postings")
                  for s in self._update_segs()]
        for root in roots:
            for _p, sz in fsutil.list_parquet_files(root):
                total += int(sz)
        return total

    # --- update segments / tombstones (reference P8 delete/replace,
    #     postings.py:360-425) ---------------------------------------------
    # Epoch model: every delete_docs/update_docs call takes the next
    # integer epoch E. Deletes write tombstones (doc_id, seg=E); updates
    # additionally write a mini index segment under updates/seg=E with
    # the SAME doc ids. A posting row (tagged with its segment's seg;
    # base rows are seg 0) contributes a doc iff no tombstone for that
    # doc has seg > row.seg — so an update kills older content and its
    # own rows survive, and re-adding a deleted doc resurrects it.
    # Corpus stats (df/avgdl/N) stay as-built until compact()
    # (Lucene-style deleted-docs semantics).

    def _update_segs(self) -> List[int]:
        root = fsutil.join(self.path, "updates")
        segs = sorted(int(d.split("=", 1)[1]) for d in fsutil.listdir(root)
                      if d.startswith("seg="))
        if self.as_of is not None:
            segs = [s for s in segs if s <= self.as_of]
        return segs

    def _next_epoch(self) -> int:
        tomb = 0
        tpath = fsutil.join(self.path, "tombstones")
        if fsutil.isdir(tpath):
            # footer stats only (mass-delete logs can be huge); fall back
            # to a column read for files without statistics
            import pyarrow.compute as pc
            mx = None
            for fp, _sz in fsutil.list_parquet_files(tpath):
                    md = fsutil.parquet_file(fp).metadata
                    for rg in range(md.num_row_groups):
                        row_grp = md.row_group(rg)
                        for ci in range(row_grp.num_columns):
                            col = row_grp.column(ci)
                            if col.path_in_schema != "seg":
                                continue
                            st = col.statistics
                            if st is not None and st.has_min_max:
                                v = int(st.max)
                            else:
                                v = pc.max(fsutil.read_parquet(
                                    fp, columns=["seg"]).column("seg")).as_py()
                                v = int(v or 0)
                            mx = v if mx is None else max(mx, v)
            tomb = int(mx or 0)
        segs = self._update_segs()
        return max([tomb] + segs + [0]) + 1

    # above this many tombstone rows the driver dict + task-closure ship
    # is replaced by the parquet side table (TombstoneReader): bounded
    # driver memory no matter how much of the corpus is deleted
    # incrementally (ROADMAP §8; ~32 MB of driver dict at the cap)
    TOMBSTONE_DRIVER_MAX_ROWS = 2_000_000

    def _tombstones(self):
        """Tombstone lookup: {block_id: (sorted local doc_ids, parallel
        max-seg array)} as a driver dict below TOMBSTONE_DRIVER_MAX_ROWS,
        else a TombstoneReader over the block-partitioned side table
        (same .get contract; kernels don't care which)."""
        if getattr(self, "_tomb_cache", None) is not None:
            return self._tomb_cache
        tpath = fsutil.join(self.path, "tombstones")
        out = {}
        if fsutil.isdir(tpath):
            n_rows = _parquet_row_count(tpath)
            if n_rows > self.TOMBSTONE_DRIVER_MAX_ROWS:
                out = self._tombstone_reader(n_rows)
            else:
                # bounded driver pyarrow read, no Spark job
                pdf = fsutil.read_parquet(tpath).to_pandas()
                if self.as_of is not None and len(pdf):
                    # snapshot read: only tombstones committed by epoch E
                    pdf = pdf[pdf["seg"] <= self.as_of]
                if len(pdf):
                    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
                    segs = pdf["seg"].to_numpy(dtype=np.int64)
                    blocks = ids // self.docs_per_block
                    local = ids % self.docs_per_block
                    order = np.lexsort((segs, local, blocks))
                    blocks, local, segs = (blocks[order], local[order],
                                           segs[order])
                    # keep the max seg per doc (later ops win)
                    for b in np.unique(blocks):
                        m = blocks == b
                        lid, sg = local[m], segs[m]
                        starts = np.concatenate(
                            ([0], np.flatnonzero(np.diff(lid)) + 1,
                             [len(lid)]))
                        u = lid[starts[:-1]]
                        mx = np.maximum.reduceat(sg, starts[:-1])
                        out[int(b)] = (u, mx)
        self._tomb_cache = out
        return out

    def _tombstone_reader(self, n_rows: int) -> TombstoneReader:
        """Side-table mode: (re)pack the raw tombstone log into a
        block-range-partitioned parquet table when stale (one Spark job
        over O(deletes) rows), then hand out footer-resolved ranges.
        Snapshot handles pack into an as_of-suffixed dir (the epoch-E
        prefix of the log is immutable, so a present marker is fresh)."""
        if self.as_of is not None:
            packed = fsutil.join(self.path,
                                 f"tombstones_packed_asof_{self.as_of}")
            marker = fsutil.join(packed, "_rows.json")
            if not fsutil.exists(marker):
                self._pack_tombstones(packed, n_rows, max_seg=self.as_of)
            ranges = [(p, lo, hi)
                      for _, p, lo, hi in scan_doclens_ranges([(0, packed)])]
            return TombstoneReader(ranges)
        packed = fsutil.join(self.path, "tombstones_packed")
        marker = fsutil.join(packed, "_rows.json")
        fresh = False
        if fsutil.exists(marker):
            fresh = fsutil.read_json(marker).get("rows") == n_rows
        if not fresh:
            self._pack_tombstones(packed, n_rows)
        ranges = [(p, lo, hi)
                  for _, p, lo, hi in scan_doclens_ranges([(0, packed)])]
        return TombstoneReader(ranges)

    def _pack_tombstones(self, packed: str, n_rows: int,
                         max_seg: Optional[int] = None) -> None:
        dpb = self.docs_per_block

        def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(key[0])
            lid = pdf["doc_id"].to_numpy(dtype=np.int64) % dpb
            seg = pdf["seg"].to_numpy(dtype=np.int64)
            order = np.lexsort((seg, lid))
            lid, seg = lid[order], seg[order]
            starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(lid)) + 1, [len(lid)]))
            u = lid[starts[:-1]]
            mx = np.maximum.reduceat(seg, starts[:-1])
            return pd.DataFrame({
                "block_id": [b],
                "doc_ids": [u.astype("<i8").tobytes()],
                "segs": [mx.astype("<i8").tobytes()]})

        n_parts = max(4, self.spark.sparkContext.defaultParallelism)
        tmp = packed + ".tmp"
        fsutil.rmtree(tmp)
        raw = self.spark.read.parquet(fsutil.join(self.path, "tombstones"))
        if max_seg is not None:
            raw = raw.filter(F.col("seg") <= max_seg)
        raw \
            .withColumn("block_id",
                        F.floor(F.col("doc_id") / F.lit(dpb)).cast("long")) \
            .groupBy("block_id") \
            .applyInPandas(pack, "block_id long, doc_ids binary, segs binary") \
            .repartitionByRange(n_parts, "block_id") \
            .sortWithinPartitions("block_id") \
            .write.mode("overwrite").parquet(tmp)
        fsutil.rmtree(packed)
        fsutil.move(tmp, packed)
        # marker LAST: a crash mid-swap leaves no/stale marker -> repack
        fsutil.write_json(fsutil.join(packed, "_rows.json"),
                          {"rows": n_rows})
        _TOMB_FILE_CACHE.clear()  # old side-table files are gone

    def delete_docs(self, doc_ids) -> None:
        """Tombstone docs: they stop matching every query immediately.
        Corpus stats (num_docs, total_tokens -> avg_doc_len) are patched
        EXACTLY: the currently-live lengths of the deleted docs are
        subtracted (stats_patch.json, survives reopen). Per-term df
        corrections happen lazily at query time (_df_corrections), so
        idf stays exact between compactions."""
        self._check_writable()
        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        if not len(ids):
            return
        live, lens = self._live_lens(ids)
        epoch = self._next_epoch()
        df = self.spark.createDataFrame(
            [(int(d), epoch) for d in ids.tolist()], "doc_id long, seg long")
        df.coalesce(1).write.mode("append").parquet(
            fsutil.join(self.path, "tombstones"))
        self._invalidate_caches()
        self._patch_stats(-int(live.sum()), -float(lens[live].sum()),
                          epoch=epoch, op="delete")

    def update_docs(self, docs: DataFrame, text_col: str = "text") -> None:
        """Replace docs in place (same doc ids): tombstone the old
        content and write a new index segment holding the new content.
        ``docs`` must carry (doc_id, text). Corpus stats are patched
        exactly (new segment totals replace the docs' old live lengths);
        with the lazy df corrections this keeps post-update BM25 scores
        equal to a compacted index's — no idf staleness window.

        Driver memory is bounded regardless of batch size (guide §5):
        the update frame's ids are never collected — the pre-update live
        stats come from one distributed agg over the TOUCHED blocks'
        doclens (block-pruned broadcast join), and the tombstone rows
        are written directly from the frame."""
        from .indexing import build_index

        self._check_writable()
        # the batch frame is evaluated several times below (live stats,
        # segment build, tombstone write): persist it so an expensive or
        # nondeterministic upstream pipeline is computed once and every
        # consumer sees the same rows. Respect a caller's own cache —
        # unpersisting here would silently drop it (CacheManager keys on
        # the logical plan).
        already_cached = docs.storageLevel.useMemory \
            or docs.storageLevel.useDisk
        if not already_cached:
            docs = docs.persist()
        try:
            self._update_docs_persisted(docs, text_col)
        finally:
            if not already_cached:
                docs.unpersist()

    def _update_docs_persisted(self, docs: DataFrame, text_col: str) -> None:
        from .indexing import build_index

        # ONE job answers batch emptiness AND the pre-update live stats
        # of the batch ids — which MUST run before the segment build
        # (the new segment would otherwise patch the very lengths being
        # replaced)
        n_ids, live_n, live_len_sum = self._live_stats_for(docs)
        if n_ids == 0:
            return
        epoch = self._next_epoch()
        # the segment build shells out to the local build pipeline; a
        # file:// index maps to its POSIX path, truly remote fails fast
        seg_path = fsutil.local_path(
            fsutil.join(self.path, "updates", f"seg={epoch}"))
        build_index(self.spark, docs, seg_path, text_col=text_col,
                    doc_id_col="doc_id",
                    tokenizer=self.tokenizer if self.meta["tokenizer"] == "custom"
                    else self.meta["tokenizer"],
                    docs_per_block=self.docs_per_block,
                    truncate=bool(self.meta.get("truncate", False)))
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.lit(epoch).cast("long").alias("seg")) \
            .dropDuplicates(["doc_id"]) \
            .coalesce(1).write.mode("append").parquet(
                fsutil.join(self.path, "tombstones"))
        self._invalidate_caches()
        seg_meta = self._seg_meta(epoch)
        self._patch_stats(
            int(seg_meta["num_docs"]) - live_n,
            float(seg_meta.get("total_tokens") or 0.0) - live_len_sum,
            epoch=epoch, op="update")

    def _live_stats_for(self, docs: DataFrame) -> tuple:
        """(n_ids, live_count, live_len_sum) for the frame's doc ids
        against the CURRENT index state, computed distributively: the
        doclens scan is pruned to the batch's blocks (broadcast join on
        block_id), exploded with the same tombstone-exclusion /
        seg-priority rule the query kernel uses (_docstats_from), and
        left-joined back to the batch ids — one job answers the batch
        size AND its live stats. Driver holds three scalars, never the
        id list."""
        dpb = self.docs_per_block
        ids = docs.select(F.col("doc_id").cast("long").alias("doc_id")) \
            .dropDuplicates(["doc_id"])
        touched = ids.select(
            F.floor(F.col("doc_id") / F.lit(dpb)).cast("long")
            .alias("block_id")).distinct()
        pruned = self.doclens.join(F.broadcast(touched), "block_id")
        row = ids.join(self._docstats_from(pruned), "doc_id", "left") \
            .agg(F.count("*").alias("n_ids"),
                 F.count("doc_len").alias("n"),
                 F.sum("doc_len").alias("s")).collect()[0]
        return int(row["n_ids"]), int(row["n"]), float(row["s"] or 0.0)

    def _patch_stats(self, delta_docs: int, delta_tokens: float,
                     epoch: Optional[int] = None,
                     op: Optional[str] = None) -> None:
        """Apply an exact corpus-stats delta and persist it atomically so
        reopened handles see the live num_docs / avg_doc_len.
        compact_index writes exact stats into meta.json and the fresh
        index has no patch file. Each mutation also appends an
        epoch-stamped record to stats_log/ — the snapshot log that makes
        as_of (time-travel) stats exact without a recount."""
        self.num_docs = int(self.num_docs + delta_docs)
        self.total_tokens = float(self.total_tokens + delta_tokens)
        self.avg_doc_len = (self.total_tokens / self.num_docs
                            if self.num_docs else 0.0)
        fsutil.write_json_atomic(
            fsutil.join(self.path, "stats_patch.json"),
            {"num_docs": self.num_docs,
             "total_tokens": self.total_tokens})
        if epoch is not None:
            fsutil.write_json_atomic(
                fsutil.join(self.path, "stats_log", f"epoch_{epoch}.json"),
                {"epoch": int(epoch), "op": op,
                 "delta_docs": int(delta_docs),
                 "delta_tokens": float(delta_tokens)})

    def _check_writable(self) -> None:
        if self.as_of is not None:
            raise ValueError(
                f"read-only snapshot handle (as_of={self.as_of}); open the "
                "index without as_of to mutate it")

    def _stats_log(self) -> List[dict]:
        root = fsutil.join(self.path, "stats_log")
        return sorted(
            (fsutil.read_json(fsutil.join(root, f))
             for f in fsutil.listdir(root)
             if f.startswith("epoch_") and f.endswith(".json")),
            key=lambda r: int(r["epoch"]))

    def history(self) -> List[dict]:
        """Iceberg-style snapshot log: one record per committed mutation
        epoch ({epoch, op, delta_docs, delta_tokens}), oldest first.
        Pass any listed epoch (or 0 for as-built) to SearchIndex(...,
        as_of=) for a consistent time-travel read. Compaction expires
        history, like Iceberg snapshot expiry."""
        return self._stats_log()

    def _apply_asof_stats(self) -> None:
        """Exact corpus stats for a snapshot handle: base stats plus the
        stats_log deltas of epochs <= as_of. If any epoch in range
        predates the log (legacy index mutated before stats_log existed),
        fall back to ONE bounded recount over this snapshot's own
        doclens view — correct by construction."""
        recs = self._stats_log()
        known = {int(r["epoch"]) for r in recs}
        # epochs are contiguous from 1 (each mutation takes max+1), so the
        # newest epoch bounds the range the log must cover
        newest = self._next_epoch() - 1
        needed = range(1, min(self.as_of, newest) + 1)
        if all(e in known for e in needed):
            dd = sum(int(r["delta_docs"]) for r in recs
                     if int(r["epoch"]) <= self.as_of)
            dt = sum(float(r["delta_tokens"]) for r in recs
                     if int(r["epoch"]) <= self.as_of)
            self.num_docs = int(self.meta["num_docs"]) + dd
            base_tt = self.meta.get("total_tokens")
            base_tt = (float(base_tt) if base_tt is not None
                       else float(self.meta["avg_doc_len"])
                       * int(self.meta["num_docs"]))
            self.total_tokens = base_tt + dt
        else:
            row = self.docstats.agg(
                F.count("*").alias("n"),
                F.sum(F.col("doc_len").cast("double")).alias("t")).collect()[0]
            self.num_docs = int(row["n"])
            self.total_tokens = float(row["t"] or 0.0)
        self.avg_doc_len = (self.total_tokens / self.num_docs
                            if self.num_docs else 0.0)

    def _live_lens(self, ids: np.ndarray):
        """(live_mask, doc_len) per unique GLOBAL doc id against the
        CURRENT state: update segments patch lengths by seg priority; a
        doc is live unless its newest tombstone outranks its newest
        doclens row (the query kernel's exclusion rule). Driver-side
        reads over only the doclens files covering the touched blocks —
        O(touched blocks), bounded by the delete/update batch size."""
        ids = np.unique(np.asarray(ids, dtype=np.int64))
        live = np.zeros(len(ids), dtype=bool)
        lens = np.zeros(len(ids), dtype=np.float32)
        blocks = ids // self.docs_per_block
        local = ids % self.docs_per_block
        ranges = self._doclens_file_ranges()
        tomb = self._tombstones()
        for b in np.unique(blocks):
            m = blocks == b
            tgt = local[m]
            rows = []
            for seg, path, lo, hi in ranges:
                if lo <= b <= hi:
                    row = _load_doclens_file(path).get(int(b))
                    if row is not None:
                        rows.append((seg, row[0], row[1]))
            if not rows:
                continue
            best_seg = np.full(len(tgt), -1, dtype=np.int64)
            best_len = np.zeros(len(tgt), dtype=np.float32)
            for seg, ib, lb in sorted(rows, key=lambda r: r[0]):
                di = np.frombuffer(ib, dtype="<i8")
                if not len(di):
                    continue
                dl = np.frombuffer(lb, dtype="<f4")
                pos = np.minimum(np.searchsorted(di, tgt), len(di) - 1)
                hit = di[pos] == tgt
                best_seg[hit] = seg
                best_len[hit] = dl[pos[hit]]
            found = best_seg >= 0
            t_entry = tomb.get(int(b))
            if t_entry is not None:
                t_ids, t_segs = t_entry
                pos = np.minimum(np.searchsorted(t_ids, tgt),
                                 max(len(t_ids) - 1, 0))
                t_hit = len(t_ids) > 0
                t_hit = (t_ids[pos] == tgt) if t_hit else np.zeros(len(tgt), bool)
                dead = t_hit & (t_segs[pos] > best_seg)
                found &= ~dead
            live[m] = found
            lv = lens[m]
            lv[found] = best_len[found]
            lens[m] = lv
        return live, lens

    def _df_corrections(self, terms: Sequence[str]) -> dict:
        """Exact per-term df adjustment for tombstoned docs: for each
        posting row of a term in a tombstoned block, count the doc keys
        killed by a LATER tombstone — the same exclusion the query
        kernel applies, so df matches what scoring actually sees. ONE
        tiny Spark job restricted to (queried terms) x (tombstoned
        blocks); zero cost on clean indexes, O(deletes)-bounded after
        deletes/updates. Negative values (counts to subtract)."""
        tomb = self._tombstones()
        if not tomb or not terms:
            return {}
        if self._local_query_ok(extended=True):
            # small index: identical exclusion math over the
            # driver-loaded postings rows (no job; bounded by the
            # queried terms' rows in tombstoned blocks)
            out: dict = {}
            store = self._local_postings()
            for t in terms:
                killed_tot = 0
                for b, raw, seg in store.get(t, ()):
                    t_entry = tomb.get(int(b))
                    if t_entry is None:
                        continue
                    excl = t_entry[0][t_entry[1] > int(seg)]
                    if not len(excl):
                        continue
                    arr = K.from_bytes(raw)
                    if not len(arr):
                        continue
                    ids, _ = K.termfreqs(arr)
                    pos = np.minimum(np.searchsorted(excl, ids),
                                     len(excl) - 1)
                    killed_tot += int((excl[pos] == ids).sum())
                if killed_tot:
                    out[t] = -killed_tot
            return out
        tomb_bc = self.spark.sparkContext.broadcast(tomb)
        posts = self.postings.filter(F.col("term").isin(list(terms)))
        if isinstance(tomb, dict) and len(tomb) <= 8192:
            # push the tombstoned-block set into the scan; a mass delete
            # touching more blocks skips the in-list (planner cost) and
            # lets the kernel's per-block tomb lookup do the filtering
            posts = posts.filter(
                F.col("block_id").isin([int(b) for b in tomb]))
        posts = posts.select("term", "block_id", "seg", "postings")

        def count_killed(it):
            for pdf in it:
                out_t, out_c = [], []
                for term, b, seg, raw in zip(pdf["term"], pdf["block_id"],
                                             pdf["seg"], pdf["postings"]):
                    t_entry = tomb_bc.value.get(int(b))
                    if t_entry is None:
                        continue
                    excl = t_entry[0][t_entry[1] > int(seg)]
                    if not len(excl):
                        continue
                    arr = K.from_bytes(raw)
                    if not len(arr):
                        continue
                    ids, _ = K.termfreqs(arr)
                    pos = np.minimum(np.searchsorted(excl, ids),
                                     len(excl) - 1)
                    killed = int((excl[pos] == ids).sum())
                    if killed:
                        out_t.append(term)
                        out_c.append(killed)
                yield pd.DataFrame({"term": pd.Series(out_t, dtype=object),
                                    "killed": pd.Series(out_c, dtype="int64")})

        rows = posts.mapInPandas(count_killed, "term string, killed long") \
            .groupBy("term").agg(F.sum("killed").alias("k")).collect()
        return {r["term"]: -int(r["k"]) for r in rows}

    def _invalidate_caches(self) -> None:
        self._tomb_cache = None
        self._dl_bc = None
        self._dl_capacity = None
        self._dl_table = None
        self._local_ok = None
        self._local_ok_ext = None
        self._local_posts = None
        self._postings_df = None
        self._doclens_df = None
        self._readers = {}
        self._df_cache = {}
        self._sketch_cache = {}
        self._bounds_cache = {}
        self._dl_ranges = None
        self._has_sketches = None
        self._aligned = None
        rc = getattr(self, "_result_cache", None)
        if rc is not None:  # stays enabled; memoized frames are stale
            rc.clear()

    def _seg_meta(self, seg: int) -> dict:
        return fsutil.read_json(fsutil.join(
            self.path, "updates", f"seg={seg}", "meta.json"))

    def _files_aligned(self) -> bool:
        """True when every postings parquet file holds EXACTLY ONE row
        group. A parquet row group is read by the one scan split that
        contains its byte midpoint, so a single-row-group file's rows
        always land whole in one scan partition — regardless of
        spark.sql.files.maxPartitionBytes, openCostInBytes, or cluster
        parallelism (those only govern how many EMPTY splits surround
        it; verified empirically and by tests/test_alignment.py, where a
        multi-row-group file DOES split and the grouped fallback takes
        over). Combined with the block-range-partitioned layout (a doc
        block's rows live in exactly one file), every scan partition
        then holds whole doc blocks, so phrase/slop kernels see all of a
        block's query-term rows and run with ZERO shuffle.

        Builds pin parquet.block.size at write, verify footers, and
        record ``postings_single_row_group`` in meta.json; older indexes
        without the flag are verified here once (footer walk, cached).
        """
        if getattr(self, "_aligned", None) is not None:
            return self._aligned
        if int(self.meta.get("format_version", 0)) < 3:
            # older term-range layouts split a block's terms across
            # files — per-partition phrase kernels would be wrong
            self._aligned = False
            return False
        from .indexing import verify_single_row_group
        sources = [(self.meta, fsutil.join(self.path, "postings"))]
        sources += [(self._seg_meta(s),
                     fsutil.join(self.path, "updates", f"seg={s}", "postings"))
                    for s in self._update_segs()]
        aligned = True
        for meta, root in sources:
            flag = meta.get("postings_single_row_group")
            if flag is False:
                aligned = False
                break
            if flag is None and not verify_single_row_group(root):
                aligned = False
                break
        self._aligned = aligned
        return self._aligned

    # --- tables -----------------------------------------------------------
    def _segmented(self, table: str) -> DataFrame:
        """The base ``table`` unioned with every update segment's, each
        row tagged with its segment's ``seg`` (base rows are seg 0).
        Memoized per handle: ``spark.read.parquet`` infers the schema
        with a Spark job, which a query must not pay."""
        df = self._readers.get(table)
        if df is None:
            df = self.spark.read.parquet(fsutil.join(self.path, table)) \
                .withColumn("seg", F.lit(0).cast("long"))
            for s in self._update_segs():
                seg = self.spark.read.parquet(
                    fsutil.join(self.path, "updates", f"seg={s}", table)) \
                    .withColumn("seg", F.lit(s).cast("long"))
                df = df.unionByName(seg)
            self._readers[table] = df
        return df

    @property
    def postings(self) -> DataFrame:
        if self._postings_df is not None:
            return self._postings_df
        return self._segmented("postings")

    @property
    def doclens(self) -> DataFrame:
        if self._doclens_df is not None:
            return self._doclens_df
        return self._segmented("doclens")

    @property
    def docstats(self) -> DataFrame:
        """Per-doc (doc_id, block_id, doc_len), derived from the packed
        per-block doclens rows (not materialized — the packed form is the
        source of truth; this explode is only for API/oracle use).
        Update segments override a doc's length (highest seg wins)."""
        return self._docstats_from(self.doclens)

    def _docstats_from(self, doclens_df: DataFrame) -> DataFrame:
        """docstats over an arbitrary (possibly block-pruned) doclens
        frame — the pruned form lets update_docs compute live stats over
        only the touched blocks instead of the whole corpus."""
        docs_per_block = self.docs_per_block
        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("block_id", LongType()),
            StructField("doc_len", FloatType()),
        ])
        has_segs = bool(self._update_segs())
        if has_segs:
            schema = StructType(schema.fields + [StructField("seg", LongType())])
        # deleted docs must not appear (reference: a deleted row is gone
        # from every view): apply the kernel exclusion rule per row —
        # a doc dies where a LATER tombstone outranks the row's segment
        tomb = self._tombstones()
        tomb_bc = (self.spark.sparkContext.broadcast(tomb)
                   if tomb else None)

        def _explode(it):
            for pdf in it:
                for block_id, ids_raw, lens_raw, seg in zip(
                        pdf["block_id"], pdf["doc_ids"], pdf["doc_lens"],
                        pdf["seg"]):
                    ids = np.frombuffer(ids_raw, dtype="<i8")
                    lens = np.frombuffer(lens_raw, dtype="<f4")
                    if tomb_bc is not None:
                        t_entry = tomb_bc.value.get(int(block_id))
                        if t_entry is not None:
                            excl = t_entry[0][t_entry[1] > int(seg)]
                            if len(excl):
                                keep = ~np.isin(ids, excl, assume_unique=True)
                                ids, lens = ids[keep], lens[keep]
                    out = {
                        "doc_id": ids + int(block_id) * docs_per_block,
                        "block_id": int(block_id),
                        "doc_len": lens,
                    }
                    if has_segs:
                        out["seg"] = int(seg)
                    yield pd.DataFrame(out)

        stats = doclens_df.mapInPandas(_explode, schema)
        if has_segs:
            stats = stats.groupBy("doc_id").agg(
                F.max_by("block_id", "seg").alias("block_id"),
                F.max_by("doc_len", "seg").alias("doc_len"),
            ).select("doc_id", "block_id", "doc_len")
        return stats

    @property
    def term_stats(self) -> DataFrame:
        df = self._readers.get("term_stats")
        if df is None:
            df = self.spark.read.parquet(fsutil.join(self.path, "term_stats"))
            self._readers["term_stats"] = df
        return df

    def _sketches_available(self) -> bool:
        """term_stats carries the block sketch columns (format >= 4),
        read from one footer."""
        if self._has_sketches is None:
            files = fsutil.list_parquet_files(
                fsutil.join(self.path, "term_stats"))
            self._has_sketches = bool(files) and "grp_ids" in \
                fsutil.parquet_file(files[0][0]).schema_arrow.names
        return self._has_sketches

    def _term_sketches(self, terms: Sequence[str]) -> dict:
        """Per-term block sketches (presence intervals + block-max bound
        arrays), read once per never-seen term and memoized: the
        driver-side ``_read_term_rows`` read returns O(terms) rows of
        O(groups) bytes each, with no Spark job, instead of collecting
        (term, block) metadata rows per query. Update-segment
        term_stats add their presence/bounds, and df sums over every
        source (made exact by _df_corrections)."""
        missing = [t for t in dict.fromkeys(terms)
                   if t not in self._sketch_cache]
        if missing:
            sources = [(self.meta, fsutil.join(self.path, "term_stats"))]
            sources += [(self._seg_meta(s), fsutil.join(
                self.path, "updates", f"seg={s}", "term_stats"))
                for s in self._update_segs()]
            by_term: dict = {}
            for meta, root in sources:
                g = int(meta.get("bounds_granularity", 1))
                for r in _read_term_rows(
                        root, missing, ["term", "df", "grp_ids",
                                        "grp_tf_max", "grp_dl_min"]):
                    grp = np.frombuffer(r["grp_ids"], dtype="<i4") \
                        .astype(np.int64)
                    part = (grp * g, grp * g + g,
                            np.frombuffer(r["grp_tf_max"], dtype="<i4")
                              .astype(np.int64),
                            np.frombuffer(r["grp_dl_min"], dtype="<i4")
                              .astype(np.int64))
                    # df sums over ALL sources (base + update segments);
                    # docs double-counted across sources or tombstoned
                    # are subtracted exactly by _df_corrections below
                    df_sum, parts = by_term.get(r["term"], (0, []))
                    df_sum += int(r["df"])
                    parts.append(part)
                    by_term[r["term"]] = (df_sum, parts)
            corr = self._df_corrections(
                [t for t in missing if t in by_term])
            for t in missing:
                if t in by_term:
                    df_s, parts = by_term[t]
                    df_exact = max(0, df_s + corr.get(t, 0))
                    self._sketch_cache[t] = TermSketch(df_exact, parts)
                    self._df_cache.setdefault(t, df_exact)
                else:
                    self._sketch_cache[t] = None
                    self._df_cache.setdefault(t, 0)
        return {t: self._sketch_cache[t] for t in terms}

    def _doclens_file_ranges(self) -> list:
        """[(seg, file, min_block, max_block)] from parquet footer stats,
        resolved once per index instance (driver-side, O(files) footer
        reads) — the block->file map DoclensReader side-input reads use."""
        if self._dl_ranges is not None:
            return self._dl_ranges
        sources = [(0, fsutil.join(self.path, "doclens"))]
        sources += [(s, fsutil.join(self.path, "updates", f"seg={s}", "doclens"))
                    for s in self._update_segs()]
        self._dl_ranges = scan_doclens_ranges(sources)
        return self._dl_ranges

    # --- scalar stats -----------------------------------------------------
    def docfreq(self, term: str) -> int:
        return int(self.docfreqs([term])[term])

    def docfreqs(self, terms: Iterable[str]) -> dict:
        """Doc freq per term (missing -> 0); driver-side pyarrow lookup,
        cached, no Spark job. Shares the sketch read, so a query's df
        lookup and its block pruning/bounds metadata read term_stats
        once."""
        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            if self._sketches_available():
                self._term_sketches(missing)
            else:  # pre-v4 term_stats without sketch columns
                found = {r["term"]: int(r["df"]) for r in _read_term_rows(
                    fsutil.join(self.path, "term_stats"), missing,
                    ["term", "df"])}
                for t in missing:
                    self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def doclengths(self) -> DataFrame:
        return self.docstats.select("doc_id", "doc_len")

    @property
    def avg_doc_length(self) -> float:
        return self.avg_doc_len

    # --- core query kernel ------------------------------------------------

    # broadcast the packed doclens only for small corpora (~16 bytes/doc,
    # so <=2M docs is a ~32 MB broadcast) where repeated-query latency
    # benefits most; everything larger uses the co-partitioned
    # DoclensReader side-input (proven bit-identical, no O(num_docs)
    # driver collect). Round-3 kept a 512 MB collect+broadcast default up
    # to 32M docs — pointless risk once the side-input path existed.
    DOCLENS_BROADCAST_MAX_DOCS = 2_000_000

    def _doclens_capacity(self) -> int:
        """Upper bound on doclens rows a broadcast would collect: the
        AS-BUILT capacity plus every update segment's doc count. The
        live (patched) num_docs shrinks under deletes, but tombstones
        never shrink the doclens table — gating the broadcast on the
        live count would let a mass-deleted huge index slip under the
        cap and trigger an O(capacity) driver collect."""
        if getattr(self, "_dl_capacity", None) is None:
            cap = self.capacity
            for s in self._update_segs():
                cap += int(self._seg_meta(s)["num_docs"])
            self._dl_capacity = cap
        return self._dl_capacity

    def _doclens_table(self) -> dict:
        """{block_id: (ids_bytes, lens_bytes)}, update segments patched
        by seg priority. Built once per handle with driver pyarrow reads
        of the packed doclens table(s) — NO Spark job (call sites gate
        on _doclens_capacity / _local_query_ok, so the read is bounded)."""
        if getattr(self, "_dl_table", None) is None:
            import pyarrow.parquet as pq
            sources = [(0, fsutil.join(self.path, "doclens"))]
            sources += [(s, fsutil.join(self.path, "updates",
                                         f"seg={s}", "doclens"))
                        for s in self._update_segs()]
            by_block: dict = {}
            for seg, root in sources:
                t = pq.read_table(
                    root, columns=["block_id", "doc_ids", "doc_lens"])
                for b, ir, lr in zip(t.column("block_id").to_pylist(),
                                     t.column("doc_ids").to_pylist(),
                                     t.column("doc_lens").to_pylist()):
                    by_block.setdefault(int(b), []).append((seg, ir, lr))
            table = {}
            for b, segs in by_block.items():
                if len(segs) == 1:
                    table[b] = (segs[0][1], segs[0][2])
                else:  # update segments: later seg overrides a doc's len
                    ids, lens = patch_doclens(segs)
                    table[b] = (ids.astype("<i8").tobytes(),
                                lens.astype("<f4").tobytes())
            self._dl_table = table
        return self._dl_table

    def _doclens_broadcast(self):
        if getattr(self, "_dl_bc", None) is None:
            self._dl_bc = self.spark.sparkContext.broadcast(
                self._doclens_table())
        return self._dl_bc

    # --- driver-local small-query path ------------------------------------
    # symmetric to the small-BUILD path (indexing._build_index_local):
    # below these caps the whole postings table is loaded onto the driver
    # once (pyarrow) and queries run the SAME merge_packed/score_block
    # kernels driver-side — zero Spark jobs per query, results returned
    # as a LocalRelation. Bit-identical to the distributed path
    # (tests/test_local_query.py). A 1-block toy index stops paying the
    # ~0.2-0.7 s Spark job floor per query; big indexes never reach the
    # file walk (capacity gate first).
    #
    # The byte cap is per QUERY SHAPE: term/phrase/OR kernels stay ahead
    # of the distributed job floor well past 64 MB (measured at a 107 MB
    # / 500k-doc index on local[32]: term_hot 0.42 s distributed vs
    # 0.09 s driver-local, or_query 0.92 vs 0.14), so they use the
    # EXTENDED cap; the slop span kernel's serial cost on hot terms
    # crosses over much earlier (same index: 0.39 s distributed vs
    # 0.88 s driver-local), so slop queries keep the strict cap and go
    # distributed beyond it.
    LOCAL_QUERY_MAX_DOCS = 1 << 21
    LOCAL_QUERY_MAX_BYTES = 64 << 20            # all shapes incl. slop
    LOCAL_QUERY_EXTENDED_MAX_BYTES = 256 << 20  # non-slop shapes

    def _local_query_ok(self, extended: bool = False) -> bool:
        if getattr(self, "_local_ok", None) is None:
            sz = None
            if self._doclens_capacity() <= self.LOCAL_QUERY_MAX_DOCS:
                sz = 0
                roots = [fsutil.join(self.path, "postings")]
                roots += [fsutil.join(self.path, "updates",
                                       f"seg={s}", "postings")
                          for s in self._update_segs()]
                for root in roots:
                    sz += sum(b for _, b in fsutil.list_parquet_files(root))
                    if sz > self.LOCAL_QUERY_EXTENDED_MAX_BYTES:
                        break
            self._local_ok = (sz is not None
                              and sz <= self.LOCAL_QUERY_MAX_BYTES)
            self._local_ok_ext = (sz is not None
                                  and sz <= self.LOCAL_QUERY_EXTENDED_MAX_BYTES)
        if extended:
            # tests/tools may force _local_ok directly; honor that as
            # the answer for both shapes when _local_ok_ext is absent
            return getattr(self, "_local_ok_ext", self._local_ok)
        return self._local_ok

    def _local_postings(self) -> dict:
        """term -> [(block_id, packed_bytes, seg)], loaded once
        driver-side (pyarrow, no Spark job). Only built under
        _local_query_ok()."""
        if getattr(self, "_local_posts", None) is None:
            import pyarrow.parquet as pq
            sources = [(0, fsutil.join(self.path, "postings"))]
            sources += [(s, fsutil.join(self.path, "updates",
                                         f"seg={s}", "postings"))
                        for s in self._update_segs()]
            store: dict = {}
            for seg, root in sources:
                t = pq.read_table(
                    root, columns=["term", "block_id", "postings"])
                for term, b, data in zip(t.column("term").to_pylist(),
                                         t.column("block_id").to_pylist(),
                                         t.column("postings").to_pylist()):
                    store.setdefault(term, []).append((int(b), data, seg))
            self._local_posts = store
        return self._local_posts

    # prune doc blocks via the term sketches when the rarest query term
    # is at least this much rarer than the corpus (the sketch lookup is
    # cached driver math; for all-hot queries pruning can't help)
    BLOCK_PRUNE_DF_RATIO = 0.02

    # a token whose rarest term covers more blocks than this gets no
    # pruning (expansion would cost more than the scan it prunes)
    PRUNE_EXPAND_CAP = 1 << 16

    def _prune_blocks(self, tokens_b: List[List[str]],
                      block_ids: Optional[Sequence[int]]) -> Optional[List[int]]:
        """Blocks that can possibly match: union over query tokens of
        (for a phrase: blocks containing ALL its terms; for a term: its
        blocks). Distributed analogue of the reference's rare-first
        posting trim at the partition level — hot terms' posting rows in
        blocks lacking the rare term never leave the scan.

        Pure driver math over the cached per-term sketches (the rarest
        term's covered blocks expand and membership-test against the
        other terms' presence intervals) — no postings scan, no
        O(terms x blocks) collect. Returns None when pruning can't help
        (sketches unavailable, or a token's rarest term covers more
        than PRUNE_EXPAND_CAP blocks)."""
        if not self._sketches_available():
            return None
        all_terms = sorted({t for tok in tokens_b for t in tok})
        sketches = self._term_sketches(all_terms)
        needed: set = set()
        for tok in tokens_b:
            sks = [sketches[t] for t in tok]
            if any(s is None for s in sks):
                continue  # a term absent from the corpus: token matches nothing
            rare = min(sks, key=lambda s: s.covered())
            blocks = rare.expand(self.PRUNE_EXPAND_CAP)
            if blocks is None:
                return None
            mask = np.ones(len(blocks), dtype=bool)
            for s in sks:
                if s is not rare:
                    mask &= s.contains(blocks)
            needed.update(int(b) for b in blocks[mask])
        if block_ids is not None:
            needed &= {int(b) for b in block_ids}
        return sorted(needed)

    def _hits_or(self, tokens: List[List[str]], similarity=None,
                 block_ids: Optional[Sequence[int]] = None,
                 or_maxscore=None):
        """(hits_df, combined) for an OR query. When every token of a doc
        is guaranteed computed in ONE kernel call (grouped path, or
        zero-shuffle over scan-aligned whole-file partitions), the kernel
        SUMS scores per doc locally and emits one row per doc — the
        downstream groupBy(doc_id) exchange disappears and top-k compiles
        to TakeOrdered with no shuffle at all. Combined rows reuse
        HITS_SCHEMA: token_idx = number of matching tokens (for mm),
        tf/score = sums (float32; score summed in float64 then cast).
        Falls back to per-token rows + caller groupBy when alignment
        can't guarantee co-location (combined=False)."""
        single = all(len(t) == 1 for t in tokens)
        combinable = self._files_aligned() or not single
        if not combinable:
            return self._hits(tokens, similarity=similarity,
                              block_ids=block_ids), False
        return self._hits(tokens, similarity=similarity,
                          block_ids=block_ids, or_combine=True,
                          or_maxscore=or_maxscore), True

    def _zero_shuffle(self, tokens: List[List[str]],
                      has_cand: bool = False) -> bool:
        """Whether the distributed ``_hits`` plan scores straight off the
        postings scan (mapInPandas) instead of the grouped applyInPandas
        fallback. Single terms always can; phrases/slop need every query
        term of a doc block co-located, which is free when scan
        partitions hold whole files (= whole blocks); candidates use the
        grouped path (their join may re-shuffle)."""
        return all(len(t) == 1 for t in tokens) or (
            not has_cand and self._files_aligned())

    def _hits(self, tokens: List[List[str]], similarity=None,
              min_posn: Optional[int] = None, max_posn: Optional[int] = None,
              slop: int = 0, block_ids: Optional[Sequence[int]] = None,
              candidates: Optional[DataFrame] = None,
              or_combine: bool = False,
              per_token_topk: Optional[int] = None,
              or_maxscore=None,
              _as_pandas: bool = False):
        """(token_idx, doc_id, tf, score) for each query token (term or
        phrase), computed block-locally.

        Physical strategies (cheapest that fits):
        1. single terms -> mapInPandas straight over the pruned postings
           scan: ZERO shuffle before top-k.
        2. phrases on scan-aligned files -> ALSO zero shuffle (whole doc
           blocks per scan partition); otherwise one shuffle (groupBy
           block) of the pruned posting rows only.
        Doclens always arrive shuffle-free: session broadcast below the
        small-corpus cap, per-task side-input file reads (DoclensReader)
        above it.

        ``or_combine`` sums scores per doc INSIDE the kernel (plus a
        matching-token count in token_idx) — callers drop their
        groupBy(doc_id); only valid when every token of a block is
        scored in one call (see _hits_or). ``per_token_topk`` keeps each
        (token, block)'s local top-k under (score desc, doc_id asc), and
        on the zero-shuffle plan each token's top-k over the whole scan
        partition — exact for global top-k consumers (the winner set is
        a subset).

        ``candidates`` (a DataFrame with a doc_id column) restricts
        scoring to those docs INSIDE the kernel (posting-array semi-join,
        reference FilteredPosns semantics, postings.py:344-358): the
        candidate ids are packed per doc block and joined onto the
        pruned postings scan, which also drops whole blocks with no
        candidates. idf/avgdl/N stay corpus-global (standard filter
        semantics).
        """
        if slop != 0:
            from .spans import span_freqs  # noqa: F401  (fail fast on driver)
        sim_fn = sim_mod.resolve(similarity)
        all_terms = sorted({t for tok in tokens for t in tok})
        if not all_terms:
            return (_empty_hits_pdf() if _as_pandas
                    else _local_df(self.spark, _empty_hits_pdf(),
                                   HITS_SCHEMA))
        dfs = self.docfreqs(all_terms)
        num_docs = self.num_docs
        avgdl = self.avg_doc_len
        docs_per_block = self.docs_per_block
        tokens_b = [list(t) for t in tokens]
        dfs_b = dict(dfs)

        # metadata block pruning: worthwhile when a phrase has a rare term
        has_phrase = any(len(t) > 1 for t in tokens_b)
        min_df = min(dfs.values()) if dfs else 0
        if has_phrase and min_df <= num_docs * self.BLOCK_PRUNE_DF_RATIO:
            pruned = self._prune_blocks(tokens_b, block_ids)
            if pruned is not None:
                block_ids = pruned
                if not block_ids:
                    return (_empty_hits_pdf() if _as_pandas
                            else _local_df(self.spark, _empty_hits_pdf(),
                                           HITS_SCHEMA))

        def empty_out() -> pd.DataFrame:
            return pd.DataFrame(
                {"token_idx": pd.Series([], dtype="int32"),
                 "doc_id": pd.Series([], dtype="int64"),
                 "tf": pd.Series([], dtype="float32"),
                 "score": pd.Series([], dtype="float32")})

        def score_block(block_id: int, packed: dict, dl_raw,
                        cand_raw=None) -> pd.DataFrame:
            r = score_block_arrays(block_id, packed, dl_raw, cand_raw)
            if r is None:
                return empty_out()
            return pd.DataFrame(
                {"token_idx": r[0], "doc_id": r[1], "tf": r[2],
                 "score": r[3]})

        def score_block_arrays(block_id: int, packed: dict, dl_raw,
                               cand_raw=None):
            """(token_idx, doc_id, tf, score) numpy arrays, or None.
            The array form lets the driver-local path skip per-block
            pandas frame construction (measured ~1/3 of local query
            latency); score_block wraps it for the mapInPandas paths."""
            base = block_id * docs_per_block
            dl_ids = np.frombuffer(dl_raw[0], dtype="<i8")
            dl_lens = np.frombuffer(dl_raw[1], dtype="<f4")
            cand_ids = (np.frombuffer(cand_raw, dtype="<i8")
                        if cand_raw is not None else None)
            out_tok, out_doc, out_tf, out_score = [], [], [], []
            empty = np.zeros(0, dtype=np.uint64)

            def token_hits(tok, restrict):
                """(local ids, tfs) for one query token, or None.
                ``restrict`` (sorted local ids) semi-joins the postings
                before freq computation — the MaxScore skip."""
                encoded = [packed.get(t, empty) for t in tok]
                if cand_ids is not None:
                    encoded = [K.slice_keys(e, cand_ids) for e in encoded]
                if restrict is not None:
                    encoded = [K.slice_keys(e, restrict) for e in encoded]
                if min_posn is not None or max_posn is not None:
                    encoded = [K.slice_posn_window(e, min_posn, max_posn)
                               for e in encoded]
                if len(tok) == 1:
                    ids, tfs = K.termfreqs(encoded[0])
                elif slop == 0:
                    ids, tfs = K.phrase_freqs(encoded)
                else:
                    from .spans import span_freqs
                    ids, tfs = span_freqs(encoded, slop)
                if len(ids) == 0:
                    return None
                keep = tfs > 0
                ids, tfs = ids[keep], tfs[keep]
                if len(ids) == 0:
                    return None
                return ids, tfs

            hit_list = []  # (token_idx, local ids, tfs)
            if or_combine and or_maxscore is not None:
                # term-level MaxScore inside the kernel (Turtle & Flood
                # 1995): with theta = the kth score from the seed phase,
                # tokens whose upper bounds can't SUM to theta are
                # non-essential — a doc matching only those can't enter
                # the top-k, so their (hot) postings are semi-joined to
                # the essential tokens' doc set instead of fully decoded.
                # Bounds carry the (1+eps) inflation from _block_bounds,
                # so every drop is strict (rank-identity preserved,
                # tests/test_wand.py).
                per_tok_b, theta = or_maxscore
                ubs = np.asarray([_ub_of(per_tok_b[j], block_id)
                                  for j in range(len(tokens_b))])
                if float(ubs.sum()) < theta:
                    return None
                order = np.argsort(-ubs, kind="stable")
                n = len(order)
                n_ess = n
                for ce in range(1, n + 1):
                    after = float(ubs[order[ce:]].sum()) if ce < n else 0.0
                    if after < theta:
                        n_ess = ce
                        break
                cand_parts = []
                for j in order[:n_ess]:
                    r = token_hits(tokens_b[j], None)
                    if r is not None:
                        hit_list.append((int(j), r[0], r[1]))
                        cand_parts.append(r[0])
                if not cand_parts:
                    return None
                restrict = np.unique(np.concatenate(cand_parts))
                for j in order[n_ess:]:
                    if ubs[j] <= 0.0:
                        continue  # sketch says token absent from block
                    r = token_hits(tokens_b[j], restrict)
                    if r is not None:
                        hit_list.append((int(j), r[0], r[1]))
                hit_list.sort(key=lambda h: h[0])
            else:
                for idx, tok in enumerate(tokens_b):
                    r = token_hits(tok, None)
                    if r is not None:
                        hit_list.append((idx, r[0], r[1]))

            for idx, ids, tfs in hit_list:
                tok = tokens_b[idx]
                tfs = tfs.astype(np.float32)
                dls = dl_lens[np.searchsorted(dl_ids, ids)]
                tok_dfs = np.asarray([dfs_b[t] for t in tok], dtype=np.float32)
                # copy: reference-style similarities (bm25.pyx) mutate
                # term_freqs in place; the tf column must stay raw tfs
                scores = sim_fn(tfs.copy(), tok_dfs, dls, avgdl, num_docs)
                scores = np.asarray(scores, dtype=np.float32)
                if (per_token_topk is not None
                        and len(ids) > per_token_topk):
                    # keep only this BLOCK's top-n under the global total
                    # order (score desc, doc_id asc): the global top-k is
                    # a subset of the per-block top-k, so the grouped
                    # fallback's rank window shuffles O(k x blocks) rows
                    # instead of every matching doc (the zero-shuffle
                    # plan trims further, per scan partition)
                    order = np.lexsort((ids, -scores))[:per_token_topk]
                    ids, tfs, scores = ids[order], tfs[order], scores[order]
                out_tok.append(np.full(len(ids), idx, dtype=np.int32))
                out_doc.append(ids + base)
                out_tf.append(tfs)
                out_score.append(scores)
            if not out_tok:
                return None
            if or_combine:
                # OR-combine inside the kernel: every token of this block
                # was scored in this call, so the per-doc sum is final —
                # no downstream groupBy(doc_id) exchange. token_idx
                # carries the per-doc matching-token count (for mm).
                doc = np.concatenate(out_doc)
                uids, inv = np.unique(doc, return_inverse=True)
                ssum = np.zeros(len(uids), dtype=np.float64)
                np.add.at(ssum, inv, np.concatenate(out_score)
                          .astype(np.float64))
                tsum = np.zeros(len(uids), dtype=np.float64)
                np.add.at(tsum, inv, np.concatenate(out_tf)
                          .astype(np.float64))
                nmatch = np.zeros(len(uids), dtype=np.int64)
                np.add.at(nmatch, inv, 1)
                return (nmatch.astype(np.int32), uids,
                        tsum.astype(np.float32), ssum.astype(np.float32))
            return (np.concatenate(out_tok), np.concatenate(out_doc),
                    np.concatenate(out_tf), np.concatenate(out_score))

        tomb = self._tombstones()  # {} when no deletes/updates (common)

        def merge_rows(rows, block_id: int) -> dict:
            """rows: iterable of (term, postings_bytes, seg). Plain-list
            form shared by the driver-local path (no pandas frame built
            at all) and merge_packed below."""
            t_entry = tomb.get(int(block_id))
            parts: dict = {}
            for term, data, seg in rows:
                arr = K.from_bytes(data)
                if t_entry is not None:
                    # drop docs tombstoned by a LATER epoch than this row
                    excl = t_entry[0][t_entry[1] > seg]
                    if len(excl):
                        arr = K.exclude_keys(arr, excl)
                parts.setdefault(term, []).append(arr)
            # ONE merge per term (hot terms arrive as many chunked rows:
            # an iterative pairwise or_merge would re-walk the growing
            # array per chunk — O(chunks x size)); update-segment rows
            # may share headers, which or_merge unions
            return {term: (arrs[0] if len(arrs) == 1
                           else K.or_merge(np.concatenate(arrs)))
                    for term, arrs in parts.items()}

        def merge_packed(left: pd.DataFrame, block_id: int) -> dict:
            segs = (left["seg"].tolist() if "seg" in left.columns
                    else [0] * len(left))
            return merge_rows(
                zip(left["term"].tolist(), left["postings"].tolist(), segs),
                block_id)

        if candidates is None and self._local_query_ok(extended=slop == 0):
            # driver-local fast path (gate: whole postings table tiny;
            # slop keeps the strict cap — see _local_query_ok):
            # run the SAME merge_packed/score_block kernels on
            # driver-loaded rows — zero Spark jobs, bit-identical
            # results (tests/test_local_query.py) as a LocalRelation.
            block_set = (set(int(b) for b in block_ids)
                         if block_ids is not None else None)
            by_block: dict = {}
            for t in all_terms:
                for b, data, seg in self._local_postings().get(t, ()):
                    if block_set is not None and b not in block_set:
                        continue
                    by_block.setdefault(b, []).append((t, data, seg))
            dl_table = self._doclens_table()
            outs = []
            for b in sorted(by_block):
                dl_raw = dl_table.get(b)
                if dl_raw is None:
                    continue
                res = score_block_arrays(b, merge_rows(by_block[b], b),
                                         dl_raw, None)
                if res is not None:
                    outs.append(res)
            if outs:
                pdf = pd.DataFrame({
                    "token_idx": np.concatenate([o[0] for o in outs]),
                    "doc_id": np.concatenate([o[1] for o in outs]),
                    "tf": np.concatenate([o[2] for o in outs]),
                    "score": np.concatenate([o[3] for o in outs])})
            else:
                pdf = _empty_hits_pdf()
            if _as_pandas:
                return pdf
            return _local_df(self.spark, pdf, HITS_SCHEMA)

        posts = self.postings.filter(F.col("term").isin(all_terms))
        if block_ids is not None:
            posts = posts.filter(F.col("block_id").isin([int(b) for b in block_ids]))
        has_cand = candidates is not None
        if has_cand:
            # pack candidate doc ids per block (sorted unique local ids)
            # and join onto the pruned scan: inner join also drops whole
            # blocks holding no candidates (partition-level pruning)
            dpb = docs_per_block

            def pack_ids(pdf: pd.DataFrame) -> pd.DataFrame:
                lids = np.unique(pdf["lid"].to_numpy(dtype=np.int64))
                return pd.DataFrame({"block_id": [int(pdf["block_id"].iloc[0])],
                                     "cand": [lids.astype("<i8").tobytes()]})

            cand_packed = candidates.select(
                F.floor(F.col("doc_id") / F.lit(dpb)).cast("long").alias("block_id"),
                F.pmod(F.col("doc_id"), F.lit(dpb)).cast("long").alias("lid"),
            ).groupBy("block_id").applyInPandas(
                pack_ids, "block_id long, cand binary")
            posts = posts.join(cand_packed, "block_id", "inner")
        single_terms_only = all(len(t) == 1 for t in tokens_b)
        zero_shuffle = self._zero_shuffle(tokens_b, has_cand)

        def _cand_of(pdf: pd.DataFrame):
            return pdf["cand"].iloc[0] if has_cand else None

        # doclens access: broadcast the packed table for small corpora
        # (fastest for repeated queries); beyond the cap, kernels
        # side-input-read the co-partitioned doclens file(s) covering
        # their blocks (DoclensReader) — no broadcast, no doclens
        # shuffle, at ANY corpus size. Either way the plan has no
        # doclens-side exchange.
        if self._doclens_capacity() <= self.DOCLENS_BROADCAST_MAX_DOCS:
            dl_bc = self._doclens_broadcast()

            def make_dl_get():
                return dl_bc.value.get
        else:
            reader = DoclensReader(self._doclens_file_ranges())

            def make_dl_get():
                return reader.get

        if zero_shuffle:
            # single terms: every posting row is independent — stream
            # batch by batch. Phrases (and kernel-side OR-combine, which
            # must see every token of a block at once): concatenate the
            # partition's batches first so each block's terms sit in one
            # frame (bounded: only the query terms' rows are in the scan).
            stream = single_terms_only and not or_combine

            def block_frames(it):
                dl_get = make_dl_get()
                if not stream:
                    batches = [pdf for pdf in it if len(pdf)]
                    if not batches:
                        return
                    it = [pd.concat(batches)] if len(batches) > 1 else batches
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    for block_id, grp in pdf.groupby("block_id"):
                        dl_raw = dl_get(int(block_id))
                        if dl_raw is None:
                            continue
                        yield score_block(int(block_id),
                                          merge_packed(grp, block_id),
                                          dl_raw, _cand_of(grp))

            def map_kernel(it):
                if per_token_topk is None:
                    yield from block_frames(it)
                    return
                # batch top-k: each token's top-k over the WHOLE scan
                # partition leaves the task, so the driver merges at most
                # k x tokens x partitions rows (the bound TakeOrdered
                # gives top_k) with no rank-window exchange
                frames = [f for f in block_frames(it) if len(f)]
                if frames:
                    pdf = pd.concat(frames, ignore_index=True)
                    top = _rank_by_token(
                        {c: pdf[c].to_numpy() for c in pdf.columns},
                        per_token_topk)
                    del top["rank"]
                    yield pd.DataFrame(top)

            cols = ["term", "block_id", "postings", "seg"] \
                + (["cand"] if has_cand else [])
            return posts.select(*cols) \
                .mapInPandas(map_kernel, HITS_SCHEMA)

        def grouped_kernel(key, left: pd.DataFrame) -> pd.DataFrame:
            dl_raw = make_dl_get()(int(key[0]))
            if dl_raw is None or len(left) == 0:
                return empty_out()
            return score_block(int(key[0]), merge_packed(left, key[0]),
                               dl_raw, _cand_of(left))

        return posts.groupBy("block_id").applyInPandas(
            grouped_kernel, HITS_SCHEMA)

    # --- public API -------------------------------------------------------
    def termfreqs(self, token: TokenArg, min_posn: Optional[int] = None,
                  max_posn: Optional[int] = None, slop: int = 0,
                  candidates: Optional[DataFrame] = None) -> DataFrame:
        """Sparse per-doc term/phrase frequencies: (doc_id, tf)."""
        toks = _normalize_token(token)
        return self._hits([toks], min_posn=min_posn, max_posn=max_posn,
                          slop=slop, candidates=candidates).select("doc_id", "tf")

    def score(self, token: TokenArg, similarity=None, slop: int = 0,
              min_posn: Optional[int] = None,
              max_posn: Optional[int] = None,
              candidates: Optional[DataFrame] = None) -> DataFrame:
        """Sparse BM25 (or custom similarity) scores: (doc_id, score).

        Phrase scoring: tf = phrase freq, idf sums the constituent terms'
        dfs (reference postings.py:652-680). ``candidates`` (DataFrame
        with doc_id) restricts scoring to those docs inside the kernel.
        """
        toks = _normalize_token(token)
        return self._hits([toks], similarity=similarity, slop=slop,
                          min_posn=min_posn, max_posn=max_posn,
                          candidates=candidates) \
            .select("doc_id", "score")

    def score_many(self, tokens: Sequence[TokenArg], similarity=None,
                   slop: int = 0,
                   candidates: Optional[DataFrame] = None) -> DataFrame:
        """Batch scoring of many tokens in one pass: (token_idx, doc_id,
        tf, score). One postings scan + one kernel pass for the whole
        query — the building block for boolean/edismax queries."""
        toks = [_normalize_token(t) for t in tokens]
        return self._hits(toks, similarity=similarity, slop=slop,
                          candidates=candidates)

    def _local_hits_pdf(self, tokens: List[List[str]],
                        **kw) -> Optional[pd.DataFrame]:
        """Pandas hits when the driver-local small-index path applies,
        else None (caller falls back to the distributed plan). Lets
        top-k/rank finishing run driver-side too — zero Spark jobs for
        the whole query instead of a TakeOrdered job over the
        LocalRelation."""
        if kw.pop("candidates", None) is not None \
                or not self._local_query_ok(
                    extended=kw.get("slop", 0) == 0):
            return None
        return self._hits(tokens, _as_pandas=True, **kw)

    def _local_topk_df(self, pdf: pd.DataFrame, k: int) -> DataFrame:
        """(doc_id, score) top-k under (score desc, doc_id asc) — the
        exact total order TakeOrderedAndProject uses (float32->float64
        upcast is exact, so comparisons match Spark's)."""
        doc = pdf["doc_id"].to_numpy(dtype=np.int64)
        sc = pdf["score"].to_numpy(dtype=np.float32)
        order = np.lexsort((doc, -sc.astype(np.float64)))[:k]
        out = pd.DataFrame({"doc_id": doc[order],
                            "score": sc[order]})
        return _local_df(self.spark, out, TOPK_SCHEMA)

    # --- opt-in result memoization (ROADMAP §2: repeated-query floor) ----
    def enable_result_cache(self, max_entries: int = 256) -> "SearchIndex":
        """Memoize finished top-k result frames per (index state, query).

        Opt-in because it changes laziness: a miss executes the query and
        holds its k-bounded rows driver-side; a hit answers from a
        LocalRelation with ZERO Spark jobs. Soundness: any mutation
        (delete/update/append) runs _invalidate_caches, which clears this
        cache, and unhashable keys (custom similarity objects without
        __hash__, candidate frames) bypass it. Benchmarks never enable
        it — every recorded latency is uncached."""
        from collections import OrderedDict
        self._result_cache = OrderedDict()
        self._result_cache_max = int(max_entries)
        return self

    def disable_result_cache(self) -> None:
        self._result_cache = None

    def _result_key(self, kind: str, parts: tuple):
        if getattr(self, "_result_cache", None) is None:
            return None
        key = (kind,) + parts
        try:
            hash(key)
        except TypeError:  # e.g. unhashable custom similarity
            return None
        return key

    def _result_get(self, key) -> Optional[DataFrame]:
        cache = getattr(self, "_result_cache", None)
        if cache is None or key is None:
            return None
        pdf = cache.get(key)
        if pdf is None:
            return None
        cache.move_to_end(key)
        out = _local_df(self.spark, pdf.copy(), TOPK_SCHEMA)
        out._result_cache_hit = True
        return out

    def _result_put(self, key, df: DataFrame) -> DataFrame:
        cache = getattr(self, "_result_cache", None)
        if cache is None or key is None:
            return df
        rows = df.collect()
        pdf = pd.DataFrame(
            {"doc_id": np.asarray([r["doc_id"] for r in rows], dtype=np.int64),
             "score": np.asarray([r["score"] for r in rows], dtype=np.float32)})
        cache[key] = pdf
        while len(cache) > self._result_cache_max:
            cache.popitem(last=False)
        out = _local_df(self.spark, pdf.copy(), TOPK_SCHEMA)
        out._result_cache_hit = False
        return out

    def top_k(self, token: TokenArg, k: int = 10, similarity=None,
              slop: int = 0, candidates: Optional[DataFrame] = None) -> DataFrame:
        """Global top-k by score (ties broken by doc_id): distributed
        per-partition top-k then driver merge (TakeOrderedAndProject);
        driver-local sort on small indexes (zero Spark jobs)."""
        toks = _normalize_token(token)
        key = None
        if candidates is None:
            key = self._result_key(
                "top_k", (tuple(toks), int(k), int(slop), similarity))
            hit = self._result_get(key)
            if hit is not None:
                return hit
        pdf = self._local_hits_pdf([toks], similarity=similarity,
                                   slop=slop, candidates=candidates)
        if pdf is not None:
            return self._result_put(key, self._local_topk_df(pdf, k))
        return self._result_put(
            key,
            self.score(token, similarity=similarity, slop=slop,
                       candidates=candidates)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    # relative safety margin on block upper bounds: the kernel computes
    # scores in float32; bounds are float64-of-float32-inputs, so pad by
    # a few ulps to never prune a block holding a true top-k doc
    _WAND_EPS = 1e-5

    # a query whose candidate block set exceeds this gets no WAND
    # pruning (the bounds bookkeeping would cost more than the one
    # exhaustive job it replaces)
    WAND_EXPAND_CAP = 1 << 16

    def _block_bounds(self, tokens: List[List[str]], sim_fn,
                      cache_key=None) -> Optional[dict]:
        """Per-block score upper bound for an OR query over ``tokens``,
        computed from the cached per-term sketches (pure driver math —
        no postings scan, no O(terms x blocks) collect).

        The similarity must be monotone increasing in tf and decreasing
        in dl (all built-ins are; callers gate on ``monotone_bounds``):
            ub(term, block) = sim(tf_max, dl_min)
        bounds every doc's term contribution in the block; the block
        bound is the sum over query tokens (MaxScore/block-max-WAND
        bound). A phrase token's bound uses min(tf_max) over its
        constituent terms (phrase freq <= every constituent tf) with the
        summed-df idf the scorer uses (reference postings.py:652-680).
        Group-granular sketches only loosen bounds, never unsound.

        Returns None when bounds are unavailable (no sketches) or when a
        token's candidate block set exceeds WAND_EXPAND_CAP — callers
        fall back to exhaustive scoring, which stays rank-identical.
        """
        if not self._sketches_available():
            return None
        if cache_key is not None and cache_key in self._bounds_cache:
            return self._bounds_cache[cache_key]
        all_terms = sorted({t for tok in tokens for t in tok})
        sketches = self._term_sketches(all_terms)
        dfs = self.docfreqs(all_terms)
        bounds: dict = {}
        no_blocks = (np.empty(0, dtype=np.int64), np.empty(0))
        per_tok: list = []  # (block ids asc, inflated ubs) per token —
        # the kernel-side term-level MaxScore split uses these
        for tok in tokens:
            sks = [sketches[t] for t in tok]
            if any(s is None for s in sks):
                per_tok.append(no_blocks)
                continue
            rare = min(sks, key=lambda s: s.covered())
            blocks = rare.expand(self.WAND_EXPAND_CAP)
            if blocks is None:
                return None
            mask = np.ones(len(blocks), dtype=bool)
            tf_m = np.full(len(blocks), np.iinfo(np.int64).max, dtype=np.int64)
            dl_m = np.full(len(blocks), np.iinfo(np.int64).max, dtype=np.int64)
            for s in sks:  # a phrase needs every term in the block
                if s is not rare:
                    mask &= s.contains(blocks)
                tf, dl = s.bounds_at(blocks)
                tf_m = np.minimum(tf_m, tf)
                dl_m = np.minimum(dl_m, dl)
            blocks, tf_m, dl_m = blocks[mask], tf_m[mask], dl_m[mask]
            if not len(blocks):
                per_tok.append(no_blocks)
                continue
            tok_dfs = np.asarray([dfs[t] for t in tok], dtype=np.float32)
            ubs = np.asarray(
                sim_fn(tf_m.astype(np.float32), tok_dfs,
                       dl_m.astype(np.float32), self.avg_doc_len,
                       self.num_docs),
                dtype=np.float64) * (1.0 + self._WAND_EPS)
            per_tok.append((blocks.astype(np.int64), ubs))
            for b, ub in zip(blocks.tolist(), ubs.tolist()):
                bounds[b] = bounds.get(b, 0.0) + ub
        result = (bounds, per_tok)
        if cache_key is not None:
            self._bounds_cache[cache_key] = result
        return result

    def top_k_pruned(self, tokens: Union[TokenArg, Sequence[TokenArg]],
                     k: int = 10, similarity=None) -> DataFrame:
        """Block-max pruned top-k — rank-identical to exhaustive scoring
        (``top_k`` for one token; ``search_or(...).orderBy`` for many)
        but scans only the doc blocks whose bound can reach the top-k.

        Two-phase driver plan (the distributed analogue of block-max
        WAND/MaxScore; the reference scores all docs): score the
        highest-bound blocks first in cluster-sized chunks; once k docs
        are held, theta = kth score and every remaining block with
        bound < theta is skipped. Each chunk is one Spark job over a
        partition-pruned postings scan; only top-k rows return, and the
        merged result is a driver-held frame (no further job). An index
        with at most one chunk of candidate blocks runs one job.

        Pruning is sound only for similarities monotone increasing in tf
        and decreasing in dl; a custom callable without the
        ``monotone_bounds`` flag (set it yourself if yours qualifies) is
        scored exhaustively instead — same ranks, no unsound skips.
        """
        rk = None
        if getattr(self, "_result_cache", None) is not None:
            norm = (tokens if isinstance(tokens, str)
                    else tuple(t if isinstance(t, str) else tuple(t)
                               for t in tokens))
            rk = self._result_key("top_k_pruned", (norm, int(k), similarity))
            hit = self._result_get(rk)
            if hit is not None:
                hit._wand_blocks_scanned = -2  # answered from result cache
                hit._wand_blocks_total = -2
                return hit
            out = self._top_k_pruned_impl(tokens, k=k, similarity=similarity)
            cached = self._result_put(rk, out)
            cached._wand_blocks_scanned = getattr(out, "_wand_blocks_scanned", -1)
            cached._wand_blocks_total = getattr(out, "_wand_blocks_total", -1)
            return cached
        return self._top_k_pruned_impl(tokens, k=k, similarity=similarity)

    def _top_k_pruned_impl(self, tokens, k: int = 10,
                           similarity=None) -> DataFrame:
        if isinstance(tokens, str):
            tokens_list = [[tokens]]
        else:
            seq = list(tokens)
            if seq and all(isinstance(t, str) for t in seq):
                # a bare list of strings is an OR query over single terms
                tokens_list = [[t] for t in seq]
            else:
                tokens_list = [_normalize_token(t) for t in seq]
        sim_fn = sim_mod.resolve(similarity)
        # cache on the callable OBJECT (a strong reference in the key),
        # never id(): CPython reuses ids after GC, so two different
        # bm25_similarity(k1=...) closures created per call could
        # otherwise collide on a stale bounds entry (unsound pruning)
        try:
            cache_key = (tuple(tuple(t) for t in tokens_list), similarity)
            hash(cache_key)
        except TypeError:  # unhashable custom similarity: skip the cache
            cache_key = None
        # a driver-local index scores exhaustively in microseconds —
        # WAND's chunked-phase bookkeeping only adds overhead there.
        # or_combine is always valid driver-side (every token of a block
        # is scored in one call by construction).
        if self._local_query_ok(extended=True):
            pdf = self._hits(tokens_list, similarity=similarity,
                             or_combine=True, _as_pandas=True)
            out = self._local_topk_df(pdf, k)
            out._wand_blocks_scanned = -1
            out._wand_blocks_total = -1
            return out
        bounds = per_tok = None
        if getattr(sim_fn, "monotone_bounds", False):
            bb = self._block_bounds(tokens_list, sim_fn,
                                    cache_key=cache_key)
            if bb is not None:
                bounds, per_tok = bb
        if bounds is None:
            hits, combined = self._hits_or(tokens_list, similarity=similarity)
            if combined:  # kernel-side per-doc sums: TakeOrdered, no shuffle
                out = hits.orderBy(F.desc("score"), F.asc("doc_id")) \
                    .limit(k).select("doc_id", F.col("score").cast("float"))
            else:
                out = hits.groupBy("doc_id") \
                    .agg(F.sum("score").alias("score")) \
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k) \
                    .select("doc_id", F.col("score").cast("float"))
            out._wand_blocks_scanned = -1  # exhaustive: no pruning ran
            out._wand_blocks_total = -1
            return out
        # no bounds (no token occurs in any block): no chunk runs and
        # the empty driver-held result below is returned
        blocks = sorted(((b, ub) for b, ub in bounds.items()),
                        key=lambda x: (-x[1], x[0]))
        # two-phase adaptive plan: one seed chunk of the highest-bound
        # blocks establishes theta = kth score; every surviving block
        # (bound >= theta) then runs in ONE job. On skewed corpora theta
        # skips most blocks; on flat bound distributions the cost is
        # bounded at seed job + one exhaustive-sized job — never a long
        # chain of sequential chunk jobs.
        chunk_size = max(16, self.spark.sparkContext.defaultParallelism)
        best: List = []  # (score, doc_id), kept sorted desc, len<=k
        theta = None
        scanned = 0
        i = 0
        while i < len(blocks):
            if theta is not None and blocks[i][1] < theta:
                break  # every remaining block's bound is below the kth score
            if theta is None:
                chunk = [b for b, _ in blocks[i:i + chunk_size]]
                i += len(chunk)
            else:
                chunk = []
                while i < len(blocks) and blocks[i][1] >= theta:
                    chunk.append(blocks[i][0])
                    i += 1
            # after the seed phase, theta feeds the kernel-side
            # term-level MaxScore split (per-token bounds + threshold)
            ms = (per_tok, float(theta)) if theta is not None else None
            hits, combined = self._hits_or(tokens_list,
                                           similarity=similarity,
                                           block_ids=chunk,
                                           or_maxscore=ms)
            if combined:  # per-doc sums already final: no exchange
                rows = hits.orderBy(F.desc("score"), F.asc("doc_id")) \
                    .limit(k).collect()
            else:
                rows = hits.groupBy("doc_id") \
                    .agg(F.sum("score").alias("score")) \
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k) \
                    .collect()
            scanned += len(chunk)
            best.extend((r["score"], r["doc_id"]) for r in rows)
            best.sort(key=lambda x: (-x[0], x[1]))
            best = best[:k]
            if len(best) >= k:
                theta = best[-1][0]
            elif i >= len(blocks):
                break
        out = _local_df(self.spark, pd.DataFrame(
            {"doc_id": np.asarray([d for _, d in best], dtype=np.int64),
             "score": np.asarray([sc for sc, _ in best], dtype=np.float32)}),
            TOPK_SCHEMA)
        out._wand_blocks_scanned = scanned  # introspection for tests
        out._wand_blocks_total = len(blocks)
        return out

    def top_k_many(self, tokens: Sequence[TokenArg], k: int = 10,
                   similarity=None) -> DataFrame:
        """Top-k per query token in ONE kernel pass (batch scoring):
        (token_idx, doc_id, score, rank). Ranks follow the reference's
        SetOfResults (utils/sort.py:21-45): (score desc, doc_id asc) per
        token. On the zero-shuffle plan the kernel keeps each token's
        top-k over its whole scan partition and the driver ranks the
        collected rows — one Spark job, the partition-local top-k plus
        driver merge of REPOSE (ICDE 2021). That plan is eager: the
        scan runs inside this call (errors and cost show here, not at
        the caller's action), and the driver holds up to k x tokens x
        scan partitions rows. The grouped fallback (phrases on unaligned
        files) cannot see a whole partition: it keeps each (token,
        block)'s top-k and returns a lazy window row_number plan."""
        toks = [_normalize_token(t) for t in tokens]
        pdf = self._local_hits_pdf(toks, similarity=similarity,
                                   per_token_topk=k)
        if pdf is None:
            hits = self._hits(toks, similarity=similarity, per_token_topk=k)
            if not self._zero_shuffle(toks):
                from pyspark.sql import Window
                w = Window.partitionBy("token_idx").orderBy(
                    F.desc("score"), F.asc("doc_id"))
                return hits.withColumn("rank", F.row_number().over(w)) \
                    .filter(F.col("rank") <= k) \
                    .select("token_idx", "doc_id", "score", "rank")
            pdf = hits.toPandas()
        out = _rank_by_token({
            "token_idx": pdf["token_idx"].to_numpy(dtype=np.int32),
            "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
            "score": pdf["score"].to_numpy(dtype=np.float32)}, k)
        return _local_df(self.spark, pd.DataFrame(out), TOPK_MANY_SCHEMA)

    def positions(self, term: str,
                  doc_ids: Optional[Sequence[int]] = None) -> DataFrame:
        """Decoded positions per doc for one term (debug/API parity).

        ``doc_ids`` restricts decoding to those docs (reference
        postings.py:682-687 ``key=``): the scan prunes to their blocks
        and the kernel semi-joins before decoding.
        """
        docs_per_block = self.docs_per_block
        want = None
        if doc_ids is not None:
            want = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        # deleted/replaced content must not decode (same exclusion rule
        # as scoring: a LATER tombstone kills this row's doc)
        tomb = self._tombstones()
        tomb_bc = (self.spark.sparkContext.broadcast(tomb)
                   if tomb else None)

        def decode_rows(it):
            for pdf in it:
                for row in pdf.itertuples():
                    packed = K.from_bytes(row.postings)
                    if tomb_bc is not None:
                        t_entry = tomb_bc.value.get(int(row.block_id))
                        if t_entry is not None:
                            excl = t_entry[0][
                                t_entry[1] > getattr(row, "seg", 0)]
                            if len(excl):
                                packed = K.exclude_keys(packed, excl)
                    if want is not None:
                        base = row.block_id * docs_per_block
                        local = want[(want >= base) & (want < base + docs_per_block)] - base
                        packed = K.slice_keys(packed, local)
                    ids, posns = K.decode(packed)
                    if len(ids) == 0:
                        continue
                    starts = np.concatenate(
                        ([0], np.flatnonzero(np.diff(ids)) + 1, [len(ids)]))
                    yield pd.DataFrame({
                        "doc_id": ids[starts[:-1]] + row.block_id * docs_per_block,
                        "posns": [posns[s:e].astype(np.int32)
                                  for s, e in zip(starts[:-1], starts[1:])],
                    })

        if self._local_query_ok(extended=True):
            # driver-local path: same decode_rows generator over the
            # driver-loaded posting rows (zero Spark jobs)
            rows = self._local_postings().get(term, [])
            if want is not None:
                blocks = {int(d) // docs_per_block for d in want}
                rows = [r for r in rows if r[0] in blocks]
            if not rows:
                return _local_df(self.spark, _empty_positions_pdf(),
                                 POSITIONS_SCHEMA)
            pdf_in = pd.DataFrame({
                "block_id": np.asarray([r[0] for r in rows], dtype=np.int64),
                "postings": [r[1] for r in rows],
                "seg": np.asarray([r[2] for r in rows], dtype=np.int64)})
            outs = list(decode_rows([pdf_in]))
            if not outs:
                return _local_df(self.spark, _empty_positions_pdf(),
                                 POSITIONS_SCHEMA)
            pdf = pd.concat(outs, ignore_index=True)
            pdf["posns"] = [np.asarray(p, dtype=np.int32).tolist()
                            for p in pdf["posns"]]
            return _local_df(self.spark, pdf, POSITIONS_SCHEMA)

        posts = self.postings.filter(F.col("term") == term)
        if want is not None:
            blocks = sorted({int(d) // docs_per_block for d in want})
            posts = posts.filter(F.col("block_id").isin(blocks))
        return posts.mapInPandas(decode_rows, POSITIONS_SCHEMA)

    # --- boolean combinators (reference user-level AND/OR patterns,
    #     test_search.py:146-204) -----------------------------------------
    def search_or(self, tokens: Sequence[TokenArg], mm: int = 1,
                  similarity=None) -> DataFrame:
        """OR query: sum of per-token scores over docs matching >= mm
        tokens. Returns (doc_id, score, n_matches).

        On scan-aligned indexes every token of a doc is scored in ONE
        kernel call, so the per-doc sum happens kernel-side and the plan
        has NO exchange (mm filter + top-k run straight off the scan);
        otherwise one groupBy(doc_id) of the surviving rows."""
        toks = [_normalize_token(t) for t in tokens]
        hits, combined = self._hits_or(toks, similarity=similarity)
        if combined:
            return hits.select(
                "doc_id", F.col("score").cast("double").alias("score"),
                F.col("token_idx").cast("long").alias("n_matches"),
            ).filter(F.col("n_matches") >= mm)
        return hits.groupBy("doc_id").agg(
            F.sum("score").alias("score"),
            F.countDistinct("token_idx").alias("n_matches"),
        ).filter(F.col("n_matches") >= mm)

    def search_and(self, tokens: Sequence[TokenArg], similarity=None) -> DataFrame:
        return self.search_or(tokens, mm=len(tokens), similarity=similarity)

    def memory_report(self, top_n: int = 10) -> dict:
        """Index size accounting incl. the largest terms (reference
        memory_report, postings.py:570-602): on-disk bytes per table +
        top-N terms by posting bytes."""
        report: dict = {"tables": {}, "top_terms": []}
        for table in ("postings", "doclens", "term_stats"):
            p = fsutil.join(self.path, table)
            report["tables"][table] = sum(
                b for _, b in fsutil.list_parquet_files(p))
        rows = self.postings.groupBy("term") \
            .agg(F.sum(F.length("postings")).alias("bytes")) \
            .orderBy(F.desc("bytes")).limit(top_n).collect()
        report["top_terms"] = [(r["term"], int(r["bytes"])) for r in rows]
        report["num_docs"] = self.num_docs
        report["total_bytes"] = sum(report["tables"].values())
        return report

    # --- doc-major row surface (rows.py; reference P1/P3/P5/P7) ----------
    def doc_termfreqs(self, doc_ids=None) -> DataFrame:
        """(doc_id, term, tf) derived on demand from the term-major
        postings (SURVEY A5 'derive on demand')."""
        from . import rows as R
        return R.doc_termfreqs(self, doc_ids)

    def doc_terms(self, doc_ids=None) -> DataFrame:
        """(doc_id, tfs sorted array<struct<term,tf>>, doc_len)."""
        from . import rows as R
        return R.doc_terms(self, doc_ids)

    def doc(self, doc_id: int):
        """One doc as a Terms scalar (reference __getitem__(int), P1)."""
        from . import rows as R
        return R.doc(self, doc_id)

    def __getitem__(self, doc_id: int):
        from . import rows as R
        return R.doc(self, int(doc_id))

    def take(self, indices, allow_fill: bool = False, fill_value=None):
        """Row-take with fill (reference take, P3) -> list[Terms]."""
        from . import rows as R
        return R.take(self, indices, allow_fill=allow_fill,
                      fill_value=fill_value)

    def value_counts(self, dropna: bool = True) -> DataFrame:
        """Docs grouped by identical (tfs, doc_len) bag (reference
        value_counts, P7)."""
        from . import rows as R
        return R.value_counts(self, dropna=dropna)

    def unique_docs(self) -> DataFrame:
        """Distinct (tfs, doc_len) bags (reference unique, P7)."""
        from . import rows as R
        return R.unique_docs(self)

    def rowwise_eq(self, other: "SearchIndex") -> DataFrame:
        """(doc_id, eq) vs another index (reference elementwise __eq__,
        P5)."""
        from . import rows as R
        return R.rowwise_eq(self, other)

    # --- dense helpers (test parity at small scale only) ------------------
    def termfreqs_dense(self, token: TokenArg, **kw) -> np.ndarray:
        rows = self.termfreqs(token, **kw).collect()
        out = np.zeros(self.capacity, dtype=np.float32)
        for r in rows:
            out[r["doc_id"]] = r["tf"]
        return out

    def score_dense(self, token: TokenArg, similarity=None, **kw) -> np.ndarray:
        rows = self.score(token, similarity=similarity, **kw).collect()
        out = np.zeros(self.capacity, dtype=np.float32)
        for r in rows:
            out[r["doc_id"]] = r["score"]
        return out

    def doclengths_dense(self) -> np.ndarray:
        rows = self.doclengths().collect()
        out = np.zeros(self.capacity, dtype=np.float32)
        for r in rows:
            out[r["doc_id"]] = r["doc_len"]
        return out
