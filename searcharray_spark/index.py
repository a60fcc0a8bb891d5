"""Query side: SearchIndex over the on-disk index tables.

API parity with the reference array surface
(/root/reference/searcharray/postings.py:607-708 — termfreqs, docfreq,
doclengths, positions, score) re-expressed as sparse DataFrames:
results are (doc_id, tf|score) rows, never dense arrays, until a test
helper densifies at small scale.

Query execution model:
- one postings scan (``SearchIndex._scan``) serves every consumer
  (scoring, ``positions``, the df corrections, the doc-major rows) and
  is the one place a route is picked: the driver-local route runs the
  consumer's scan body on column slices of the driver-held postings
  (small indexes, zero Spark jobs), the distributed route runs the
  same body as one ``mapInPandas`` over the postings scan. Scoring's
  body is the block-scoring kernel (``query_kernel``),
- the postings scan is pruned to the query terms (pushed-down ``term IN
  (...)`` filter + row-group min/max pruning on the within-file term
  sort; storage is document-partitioned so hot terms scan in parallel),
- each kernel call must see all of a block's query-term rows. Postings
  files are scan-aligned (one row group per file => whole doc blocks per
  scan partition, see ``_files_aligned``), so the plan has no exchange;
  on an unaligned layout, or after a ``candidates`` join, phrases and
  OR queries repartition the pruned rows by block_id first (one
  exchange). Each block's packed doclens row and its tombstones are
  side-input reads of the co-partitioned files covering the block
  (``SideReader``) on every route, never a broadcast or a cogroup,
- block pruning and WAND bounds are driver math over per-term sketches
  (``TermSketch``) read once per term from term_stats with pyarrow:
  only the row groups whose term range holds a queried term are read,
  and no Spark job runs,
- OR queries sum each doc's token scores inside the kernel; only
  (doc_id, score) survivors leave it,
- every top-k call (``top_k``, ``top_k_many``, ``top_k_pruned``) is one
  plan (``_top_k``): the kernel keeps a running top-k as it scores,
  the driver merges the collected rows. ``top_k_pruned`` adds the
  kernel's block-max pruning (blocks in bound order, stop below the
  running kth score). Every distributed query runs exactly one Spark
  job, the scoring scan.
"""
from __future__ import annotations

import threading
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

from . import commit, fsutil
from . import kernels as K
from . import query_kernel as QK
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


def _select(df: DataFrame, *cols: str) -> DataFrame:
    """``df.select(*cols)`` of plain column names; a _LazyLocalFrame
    stays driver-held (its columns are picked in pandas, no JVM)."""
    if isinstance(df, _LazyLocalFrame):
        return _LazyLocalFrame(df._session, df._llf_pdf[list(cols)],
                               StructType([df.schema[c] for c in cols]))
    return df.select(*cols)


_PANDAS_DTYPES = {LongType: np.int64, IntegerType: np.int32,
                  FloatType: np.float32, DoubleType: np.float64,
                  BooleanType: np.bool_}


def _empty_pdf(schema: StructType) -> pd.DataFrame:
    """A zero-row frame over ``schema`` with the dtypes Spark's toPandas
    gives its columns (object for strings, arrays and structs)."""
    return pd.DataFrame({
        f.name: np.zeros(0, _PANDAS_DTYPES.get(type(f.dataType), object))
        for f in schema.fields})


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


POSITIONS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("posns", ArrayType(IntegerType())),
])

KILLED_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("killed", LongType()),
])


def patch_doclens(rows) -> tuple:
    """Merge per-block packed doclens rows by segment priority: later
    segments override a doc's length and may add docs. ``rows`` is an
    iterable of (seg, doc ids, doc lens), each packed as bytes or as a
    little-endian int64/float32 array; returns sorted (ids int64 array,
    lens float32 array)."""
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


def _token_blocks(sketches, cap: int) -> Optional[np.ndarray]:
    """Blocks that may hold every term of one query token (a phrase
    needs all of them): the rarest term's covered blocks, kept where the
    other terms' presence intervals cover them too. Empty when a term is
    absent from the corpus; None when the rarest term covers more than
    ``cap`` blocks."""
    if any(s is None for s in sketches):
        return np.zeros(0, dtype=np.int64)
    rare = min(sketches, key=lambda s: s.covered())
    blocks = rare.expand(cap)
    if blocks is None:
        return None
    mask = np.ones(len(blocks), dtype=bool)
    for s in sketches:
        if s is not rare:
            mask &= s.contains(blocks)
    return blocks[mask]


# --- side-input doclens and tombstones (block-range-partitioned files) ---

# Tombstone rows per file: a larger epoch is written as several files
# range-partitioned by doc_id, so a task resolving one block of a mass
# delete decodes a bounded slice (SearchIndex._write_tombstones).
TOMBSTONE_FILE_ROWS = 1 << 20

# Process-wide cache of decoded side-table files, keyed by (path, stamp):
# stamp is the file's (size, mtime_ns) from the driver's listing. Builds
# reuse file names (part-00000.parquet), so a file rewritten at the same
# path must be a new key, not the old file's decoded content. Python
# workers are reused across tasks and queries, so each process decodes a
# file once; past the byte budget the oldest entries are dropped.
_SIDE_FILE_CACHE: "dict[tuple, tuple]" = {}
_SIDE_FILE_CACHE_MAX_BYTES = 256 << 20
_side_file_cache_bytes = 0
_side_file_cache_lock = threading.Lock()  # driver queries may be threaded


def _decode_doclens(path: str, docs_per_block) -> tuple:
    """({block_id: (ids_bytes, lens_bytes)}, bytes) of one doclens file."""
    tbl = fsutil.read_parquet(path,
                              columns=["block_id", "doc_ids", "doc_lens"])
    return {int(b): (i, ln) for b, i, ln in zip(
        tbl.column("block_id").to_pylist(),
        tbl.column("doc_ids").to_pylist(),
        tbl.column("doc_lens").to_pylist())}, tbl.nbytes


def _decode_tombstones(path: str, docs_per_block: int) -> tuple:
    """({block_id: sorted unique local doc ids}, bytes) of one tombstone
    file (every file holds one epoch's rows)."""
    ids = np.unique(fsutil.read_parquet(path, columns=["doc_id"])
                    .column("doc_id").to_numpy().astype(np.int64))
    blocks = ids // docs_per_block
    cuts = np.flatnonzero(np.diff(blocks)) + 1
    return {int(b[0]): lid % docs_per_block for b, lid in zip(
        np.split(blocks, cuts), np.split(ids, cuts))}, ids.nbytes


def _load_side_file(kind: str, path: str, stamp: tuple,
                    docs_per_block: Optional[int]) -> dict:
    """One side-table file's decoded {block_id: row}, through the
    process-wide cache."""
    global _side_file_cache_bytes
    key = (path, stamp)
    hit = _SIDE_FILE_CACHE.get(key)
    if hit is not None:
        return hit[1]
    out, size = _DECODERS[kind](path, docs_per_block)
    with _side_file_cache_lock:
        while _SIDE_FILE_CACHE and (_side_file_cache_bytes + size
                                    > _SIDE_FILE_CACHE_MAX_BYTES):
            _side_file_cache_bytes -= _SIDE_FILE_CACHE.pop(
                next(iter(_SIDE_FILE_CACHE)))[0]
        if key not in _SIDE_FILE_CACHE:
            _SIDE_FILE_CACHE[key] = (size, out)
            _side_file_cache_bytes += size
    return out


def _patch_tombstones(rows) -> tuple:
    """(sorted unique local ids, max seg per id) over (seg, local ids)
    rows: a doc's newest tombstone wins."""
    if len(rows) == 1:
        seg, ids = rows[0]
        return ids, np.full(len(ids), seg, dtype=np.int64)
    ids = np.concatenate([r[1] for r in rows])
    segs = np.repeat(np.asarray([r[0] for r in rows], dtype=np.int64),
                     [len(r[1]) for r in rows])
    order = np.lexsort((segs, ids))
    ids, segs = ids[order], segs[order]
    last = np.append(np.flatnonzero(np.diff(ids)), len(ids) - 1)
    return ids[last], segs[last]


def _patch_doclens_rows(rows) -> tuple:
    if len(rows) == 1:
        return rows[0][1]
    ids, lens = patch_doclens((seg, i, ln) for seg, (i, ln) in rows)
    return ids.astype("<i8").tobytes(), lens.astype("<f4").tobytes()


_DECODERS = {"doclens": _decode_doclens, "tombstones": _decode_tombstones}
_PATCHERS = {"doclens": _patch_doclens_rows, "tombstones": _patch_tombstones}


class SideReader:
    """Block -> side-table lookup, read per block from the files whose
    footer block range covers it: no broadcast, no shuffle, and O(files)
    bytes in a task closure at any corpus size.

    Doclens and tombstone files are range-partitioned by block like the
    postings, so a kernel reads only the file(s) covering its block
    (ranges resolved once on the driver, decoded files cached per
    process). ``ranges`` is [(seg, path, lo_block, hi_block, stamp)] in
    seg order. ``get(block)`` returns, for ``doclens``, the block's
    (ids bytes, lens bytes) with update segments patched by seg
    priority (``patch_doclens``); for ``tombstones``, (sorted local
    ids, max seg per id), the contract ``query_kernel.tombstoned``
    reads. None for a block no file holds."""

    def __init__(self, kind: str, ranges,
                 docs_per_block: Optional[int] = None):
        self.kind = kind
        self.ranges = ranges
        self.docs_per_block = docs_per_block

    def __bool__(self) -> bool:
        return bool(self.ranges)

    def rows(self, block_id: int) -> list:
        """[(seg, row)] of every file holding ``block_id``, seg order:
        (ids bytes, lens bytes) doclens rows, or tombstoned local ids."""
        b = int(block_id)
        out = []
        for seg, path, lo, hi, stamp in self.ranges:
            if lo <= b <= hi:
                row = _load_side_file(self.kind, path, stamp,
                                      self.docs_per_block).get(b)
                if row is not None:
                    out.append((seg, row))
        return out

    def get(self, block_id: int):
        rows = self.rows(block_id)
        return _PATCHERS[self.kind](rows) if rows else None

    def blocks(self, cap: int) -> Optional[List[int]]:
        """Every block some file's range covers (a superset of the
        blocks holding rows), or None past ``cap`` blocks."""
        out: set = set()
        for _seg, _p, lo, hi, _stamp in self.ranges:
            if hi - lo >= cap:
                return None
            out.update(range(lo, hi + 1))
            if len(out) > cap:
                return None
        return sorted(out)


def doclens_reader(sources) -> SideReader:
    """SideReader over the doclens files of each (seg, root) source."""
    return SideReader("doclens", [
        (seg, p, *r["block_id"], stamp) for seg, root in sources
        for p, stamp, r in fsutil.footer_ranges(root, ("block_id",))])


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
        # every metadata and side-input read goes through fsutil
        # (pyarrow.fs), so a file:// URI takes the route an object-store
        # index would; unresolvable schemes fail fast here
        path = self.path = path.rstrip("/") or "/"
        fsutil.resolve(path)
        self.meta = fsutil.read_json(fsutil.join(path, "meta.json"))
        found = self.meta.get("format_version")
        if found != commit.FORMAT_VERSION:
            raise ValueError(
                f"index at {path!r} has format_version {found}; this "
                f"engine reads format_version {commit.FORMAT_VERSION}. "
                "Rebuild it with build_index")
        self.docs_per_block = int(self.meta["docs_per_block"])
        # as-built doc-id space: dense (test-parity) outputs keep this
        # shape even after deletes shrink the LIVE num_docs below it
        self.capacity = int(self.meta["num_docs"])
        # the committed epochs this handle serves, oldest first
        self._log = [r for r in self._stats_log()
                     if self.as_of is None or int(r["epoch"]) <= self.as_of]
        self._apply_stats()
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
        self._dl_reader: SideReader | None = None
        # cache() results; the plain reader frames are memoized apart so
        # an uncached table is schema-inferred (one Spark job) once per
        # handle, not once per query
        self._postings_df: DataFrame | None = None
        self._doclens_df: DataFrame | None = None
        self._readers: dict = {}

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
    POSTINGS_CACHE_MAX_BYTES = 2048 << 20  # fallback when capacity unknown
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
    # Every tombstone file holds one epoch's rows, so its footer names
    # the epoch and its block range; readers resolve a block's
    # tombstones from the files covering it (SideReader). The epoch
    # commits when its record stats_log/epoch_E.json lands, last
    # (commit.py): tombstone files and segments of an epoch without a
    # record are invisible, and the next mutation deletes them before it
    # writes. Corpus stats (N, total tokens) are meta plus the committed
    # records' exact deltas; per-term df is corrected at query time
    # (_df_corrections).

    def _update_segs(self) -> List[int]:
        return [int(r["epoch"]) for r in self._log if r["op"] == "update"]

    def _epochs(self) -> List[int]:
        return [int(r["epoch"]) for r in self._log]

    def _tombstone_files(self) -> list:
        """[(seg, path, lo_block, hi_block, stamp)] of every tombstone
        file, committed or not, in seg order (footer stats only)."""
        dpb = self.docs_per_block
        return sorted(
            (r["seg"][1], p, r["doc_id"][0] // dpb, r["doc_id"][1] // dpb,
             stamp)
            for p, stamp, r in fsutil.footer_ranges(
                fsutil.join(self.path, "tombstones"), ("doc_id", "seg")))

    def _begin_epoch(self) -> int:
        """The next epoch number, one past every number in use (tombstone
        files, update segment dirs, stats_log records), after deleting
        the files of every epoch that has no stats_log record: a killed
        mutation's leftovers. A number is reused only once no file of it
        is left."""
        files = self._tombstone_files()
        seg_dirs = {int(d.split("=", 1)[1]): d for d in fsutil.listdir(
            fsutil.join(self.path, "updates")) if d.startswith("seg=")}
        logged = {int(r["epoch"]) for r in self._stats_log()}
        epoch = max([f[0] for f in files] + list(seg_dirs)
                    + list(logged) + [0]) + 1
        for seg, p, *_ in files:
            if seg not in logged:
                commit.delete(p)
        for seg, d in seg_dirs.items():
            if seg not in logged:
                commit.delete(fsutil.join(self.path, "updates", d))
        return epoch

    def _tombstones(self) -> SideReader:
        """The tombstone lookup (``query_kernel.tombstoned``): a
        SideReader over the tombstone files of the epochs this handle
        serves; falsy when there are none."""
        if getattr(self, "_tomb_cache", None) is None:
            served = set(self._epochs())
            self._tomb_cache = SideReader(
                "tombstones", [f for f in self._tombstone_files()
                               if f[0] in served], self.docs_per_block)
        return self._tomb_cache

    def _write_tombstones(self, rows: DataFrame, n: int) -> None:
        """Append one epoch's (doc_id, seg) ``rows`` (``n`` of them) to
        the tombstone table: one file, or ceil(n / TOMBSTONE_FILE_ROWS)
        files range-partitioned by doc_id, so each file covers a bounded
        block range."""
        if n > TOMBSTONE_FILE_ROWS:
            rows = rows.repartitionByRange(
                -(-n // TOMBSTONE_FILE_ROWS), "doc_id")
        else:
            rows = rows.coalesce(1)
        rows.write.mode("append").parquet(
            fsutil.join(self.path, "tombstones"))

    def delete_docs(self, doc_ids) -> None:
        """Tombstone docs: they stop matching every query immediately.
        Corpus stats (num_docs, total_tokens -> avg_doc_len) are patched
        EXACTLY: the currently-live lengths of the deleted docs are
        subtracted (the epoch's stats_log record, survives reopen).
        Per-term df corrections happen lazily at query time
        (_df_corrections), so idf stays exact between compactions."""
        self._check_writable()
        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        if not len(ids):
            return
        live, lens = self._live_lens(ids)
        epoch = self._begin_epoch()
        self._write_tombstones(self.spark.createDataFrame(
            [(int(d), epoch) for d in ids.tolist()], "doc_id long, seg long"),
            len(ids))
        self._commit_epoch(epoch, "delete", -int(live.sum()),
                           -float(lens[live].sum()))

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
        epoch = self._begin_epoch()
        seg_path = fsutil.join(self.path, "updates", f"seg={epoch}")
        build_index(self.spark, docs, seg_path, text_col=text_col,
                    doc_id_col="doc_id",
                    tokenizer=self.tokenizer if self.meta["tokenizer"] == "custom"
                    else self.meta["tokenizer"],
                    docs_per_block=self.docs_per_block,
                    truncate=bool(self.meta.get("truncate", False)))
        self._write_tombstones(
            docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.lit(epoch).cast("long").alias("seg"))
            .dropDuplicates(["doc_id"]), n_ids)
        seg_meta = self._seg_meta(epoch)
        self._commit_epoch(
            epoch, "update", int(seg_meta["num_docs"]) - live_n,
            float(seg_meta.get("total_tokens") or 0.0) - live_len_sum)

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

    def _commit_epoch(self, epoch: int, op: str, delta_docs: int,
                      delta_tokens: float) -> None:
        """Commit a mutation epoch: its stats_log record, holding the
        exact corpus-stats delta, is the marker, written last. Until it
        lands the epoch's tombstone rows and segment are invisible."""
        rec = {"epoch": int(epoch), "op": op,
               "delta_docs": int(delta_docs),
               "delta_tokens": float(delta_tokens)}
        commit.write_json(
            fsutil.join(self.path, "stats_log", f"epoch_{epoch}.json"), rec)
        self._log.append(rec)
        self._invalidate_caches()
        self._apply_stats()

    def _check_writable(self) -> None:
        if self.as_of is not None:
            raise ValueError(
                f"read-only snapshot handle (as_of={self.as_of}); open the "
                "index without as_of to mutate it")
        commit.store(self.path)  # an unwritable store fails before writing

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

    def _apply_stats(self) -> None:
        """Corpus stats of the served snapshot: meta's as-built stats
        plus each committed epoch's exact delta, in epoch order."""
        self.num_docs = int(self.meta["num_docs"])
        self.avg_doc_len = float(self.meta["avg_doc_len"])
        self.total_tokens = float(self.meta["total_tokens"])
        for r in self._log:
            self.num_docs += int(r["delta_docs"])
            self.total_tokens += float(r["delta_tokens"])
        if self._log:
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
        doclens = self._doclens_lookup()
        tomb = self._tombstones()
        for b in np.unique(blocks):
            m = blocks == b
            tgt = local[m]
            rows = doclens.rows(b)
            if not rows:
                continue
            best_seg = np.full(len(tgt), -1, dtype=np.int64)
            best_len = np.zeros(len(tgt), dtype=np.float32)
            for seg, (ib, lb) in rows:
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
        kernel applies, so df matches what scoring actually sees. One
        scan (``_killed_rows``) summed per term on the driver; zero cost
        on clean indexes, O(deletes)-bounded after deletes/updates.
        Negative values (counts to subtract)."""
        if not self._tombstones() or not terms:
            return {}
        sums = self._killed_rows(terms).toPandas() \
            .groupby("term")["killed"].sum()
        return {t: -int(k) for t, k in sums.items()}

    def _killed_rows(self, terms: Sequence[str]) -> DataFrame:
        """(term, killed) per posting row of ``terms`` that a later
        tombstone takes docs from (``QK.killed_docs``). The scan is
        pruned to the tombstone files' block ranges; a mass delete
        covering more blocks skips the in-list (planner cost) and lets
        the per-block lookup do the filtering."""
        tomb = self._tombstones()

        def count_killed(batches):
            for batch in batches:
                killed = np.asarray(
                    [QK.killed_docs(tomb, b, seg, raw)
                     for b, seg, raw in zip(batch["block_id"], batch["seg"],
                                            batch["postings"])],
                    dtype=np.int64)
                keep = killed > 0
                yield pd.DataFrame({"term": np.asarray(batch["term"])[keep],
                                    "killed": killed[keep]})

        return self._scan(count_killed, KILLED_SCHEMA, terms=terms,
                          block_ids=tomb.blocks(8192), whole_blocks=False)

    def _invalidate_caches(self) -> None:
        self._tomb_cache = None
        self._dl_capacity = None
        self._postings_size = None
        self._local_posts = None
        self._postings_df = None
        self._doclens_df = None
        self._readers = {}
        self._df_cache = {}
        self._sketch_cache = {}
        self._bounds_cache = {}
        self._dl_reader = None
        self._aligned = None

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
        multi-row-group file DOES split). Combined with the
        block-range-partitioned layout (a doc block's rows live in
        exactly one file), every scan partition then holds whole doc
        blocks, so phrase/slop/OR kernels see all of a block's
        query-term rows and run with ZERO shuffle. When False, those
        plans repartition the pruned rows by block_id first (``_scan``'s
        ``whole_blocks``).

        Every writer pins parquet.block.size, verifies the footers and
        records the result as ``postings_single_row_group`` in meta.json;
        this reads the base's and each update segment's flag.
        """
        if getattr(self, "_aligned", None) is None:
            metas = [self.meta] + [self._seg_meta(s)
                                   for s in self._update_segs()]
            self._aligned = all(m["postings_single_row_group"]
                                for m in metas)
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

        def _explode(it):
            for pdf in it:
                for block_id, ids_raw, lens_raw, seg in zip(
                        pdf["block_id"], pdf["doc_ids"], pdf["doc_lens"],
                        pdf["seg"]):
                    ids = np.frombuffer(ids_raw, dtype="<i8")
                    lens = np.frombuffer(lens_raw, dtype="<f4")
                    excl = QK.tombstoned(tomb, block_id, seg)
                    if excl is not None:
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
                g = int(meta["bounds_granularity"])
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
            self._term_sketches(missing)
        return {t: self._df_cache[t] for t in terms}

    def doclengths(self) -> DataFrame:
        return self.docstats.select("doc_id", "doc_len")

    @property
    def avg_doc_length(self) -> float:
        return self.avg_doc_len

    # --- core query kernel ------------------------------------------------

    def _doclens_capacity(self) -> int:
        """Upper bound on doclens rows: the AS-BUILT capacity plus every
        update segment's doc count. The live (patched) num_docs shrinks
        under deletes, but tombstones never shrink the doclens table —
        gating the driver-local route on the live count would let a
        mass-deleted huge index slip under the cap."""
        if getattr(self, "_dl_capacity", None) is None:
            cap = self.capacity
            for s in self._update_segs():
                cap += int(self._seg_meta(s)["num_docs"])
            self._dl_capacity = cap
        return self._dl_capacity

    # --- the postings scan: driver-local or distributed route -----------
    # Every postings consumer (scoring, positions, df corrections, the
    # doc-major rows) reads through ``_scan``, the one place a route is
    # picked. Below these caps (symmetric to the small-BUILD path,
    # indexing._build_index_local) the whole postings table is loaded
    # onto the driver once (pyarrow) and ``_scan`` runs the consumer's
    # scan body on column slices of it — zero Spark jobs per query, the
    # result a driver-held ``_LazyLocalFrame`` (served by collect,
    # toPandas and count without the JVM). Bit-identical to the
    # distributed route (tests/test_local_query.py). A 1-block toy index
    # stops paying the distributed per-query floor — one Spark job,
    # 0.10-0.18 s for a single client on local[4] (30-60 ms of driver
    # DataFrame construction, 30-80 ms of job, the rest
    # submit/collect); big indexes never reach the file walk (capacity
    # gate first).
    #
    # The byte cap is per QUERY SHAPE: term/phrase/OR kernels stay ahead
    # of the distributed route well past 64 MB, so they use the EXTENDED
    # cap; the slop span kernel's serial cost on hot terms crosses over
    # much earlier, so slop queries keep the strict cap and go
    # distributed beyond it. The caps were set from a 107 MB / 500k-doc
    # index on local[32] (term_hot 0.42 s distributed vs 0.09 s
    # driver-local, or_query 0.92 vs 0.14, slop 0.39 vs 0.88) measured
    # when a distributed query still ran 3-4 Spark jobs and every Python
    # task re-read pyspark.zip (session._StampedZipImporter); the
    # crossover has not been re-measured since.
    LOCAL_QUERY_MAX_DOCS = 1 << 21
    LOCAL_QUERY_MAX_BYTES = 64 << 20            # all shapes incl. slop
    LOCAL_QUERY_EXTENDED_MAX_BYTES = 256 << 20  # non-slop shapes

    def _local_query_ok(self, extended: bool = False) -> bool:
        """Whether a query takes the driver-local route: the doc
        capacity and the postings bytes (listed once per handle) are
        compared with the caps at call time, so a handle's caps may be
        changed (the distributed route forced) after it was opened."""
        if self._doclens_capacity() > self.LOCAL_QUERY_MAX_DOCS:
            return False
        if getattr(self, "_postings_size", None) is None:
            self._postings_size = self._postings_bytes()
        return self._postings_size <= (
            self.LOCAL_QUERY_EXTENDED_MAX_BYTES if extended
            else self.LOCAL_QUERY_MAX_BYTES)

    def _local_postings(self) -> tuple:
        """The driver-held postings store, loaded once per handle with
        pyarrow (no Spark job); only built under _local_query_ok():
        ({column: numpy array} over term, block_id, postings, seg, rows
        sorted by term, each term's rows in segment then file order;
        {term: (start, end) row range})."""
        if getattr(self, "_local_posts", None) is None:
            import pyarrow.parquet as pq
            sources = [(0, fsutil.join(self.path, "postings"))]
            sources += [(s, fsutil.join(self.path, "updates",
                                         f"seg={s}", "postings"))
                        for s in self._update_segs()]
            parts = {"term": [], "block_id": [], "postings": [], "seg": []}
            for seg, root in sources:
                t = pq.read_table(
                    root, columns=["term", "block_id", "postings"])
                for c in ("term", "block_id", "postings"):
                    parts[c].append(
                        t.column(c).to_numpy(zero_copy_only=False))
                parts["seg"].append(np.full(t.num_rows, seg, np.int64))
            cols = {c: np.concatenate(a) for c, a in parts.items()}
            cols["block_id"] = cols["block_id"].astype(np.int64)
            terms, code = np.unique(cols["term"], return_inverse=True)
            order = np.argsort(code, kind="stable")
            cols = {c: a[order] for c, a in cols.items()}
            ends = np.cumsum(np.bincount(code, minlength=len(terms)))
            starts = np.concatenate(([0], ends[:-1]))
            self._local_posts = (cols, dict(zip(
                terms.tolist(), zip(starts.tolist(), ends.tolist()))))
        return self._local_posts

    def _scan(self, fn, schema: StructType, *,
              terms: Optional[Sequence[str]] = None,
              block_ids: Optional[Sequence[int]] = None,
              whole_blocks: bool, extended: bool = True,
              candidates: Optional[DataFrame] = None,
              as_pandas: bool = False):
        """The one postings scan: ``fn``, a ``mapInPandas`` body (scan
        batches of term, block_id, postings, seg[, cand] columns in,
        pandas frames over ``schema`` out), over the posting rows of
        ``terms`` in ``block_ids`` (None: every term, every block).

        Driver-local route, taken without ``candidates`` when
        ``_local_query_ok(extended)`` holds: ``fn`` runs on one batch of
        numpy column slices of the driver-held store (no pandas frame is
        built for it) and the result is driver-held. Distributed route:
        the term and block_id filters pushed into the postings scan,
        ``candidates`` (a doc_id frame) joined as packed per-block local
        ids, then ONE ``mapInPandas``. It repartitions by block_id first
        (one exchange) when a candidates join may move rows off their
        scan partition, or when ``fn`` needs ``whole_blocks`` (each
        block's rows in one partition) and the files are not
        scan-aligned (``_files_aligned``). No terms or no blocks is an
        empty driver-held result. ``as_pandas`` returns pandas: the
        driver-held frame, or the distributed plan's rows (its one Spark
        job runs here)."""
        if ((terms is not None and not len(terms))
                or (block_ids is not None and not len(block_ids))):
            pdf = _empty_pdf(schema)
        elif candidates is None and self._local_query_ok(extended):
            # one batch of column slices: a single term's rows are views
            cols, spans = self._local_postings()
            if terms is not None:
                rs = [spans[t] for t in terms if t in spans] or [(0, 0)]
                cols = {c: (a[rs[0][0]:rs[0][1]] if len(rs) == 1 else
                            np.concatenate([a[b:e] for b, e in rs]))
                        for c, a in cols.items()}
            if block_ids is not None:
                keep = np.isin(cols["block_id"],
                               np.asarray(block_ids, dtype=np.int64))
                cols = {c: a[keep] for c, a in cols.items()}
            outs = [o for o in fn([cols] if len(cols["block_id"]) else [])
                    if len(o)]
            pdf = (outs[0] if len(outs) == 1
                   else pd.concat(outs, ignore_index=True) if outs
                   else _empty_pdf(schema))
        else:
            posts = self.postings
            if terms is not None:
                posts = posts.filter(F.col("term").isin(list(terms)))
            if block_ids is not None:
                posts = posts.filter(
                    F.col("block_id").isin([int(b) for b in block_ids]))
            posts = posts.select("term", "block_id", "postings", "seg")
            if candidates is not None:
                posts = posts.join(self._candidate_blocks(candidates),
                                   "block_id", "inner")
            if candidates is not None or (whole_blocks
                                          and not self._files_aligned()):
                posts = posts.repartition("block_id")
            out = posts.mapInPandas(fn, schema)
            return out.toPandas() if as_pandas else out
        return pdf if as_pandas else _local_df(self.spark, pdf, schema)

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
        (a token's rarest term covers more than PRUNE_EXPAND_CAP
        blocks)."""
        all_terms = sorted({t for tok in tokens_b for t in tok})
        sketches = self._term_sketches(all_terms)
        needed: set = set()
        for tok in tokens_b:
            sks = [sketches[t] for t in tok]
            blocks = _token_blocks(sks, self.PRUNE_EXPAND_CAP)
            if blocks is None:
                return None
            needed.update(int(b) for b in blocks)
        if block_ids is not None:
            needed &= {int(b) for b in block_ids}
        return sorted(needed)

    def _hits(self, tokens: List[List[str]], similarity=None,
              min_posn: Optional[int] = None, max_posn: Optional[int] = None,
              slop: int = 0, block_ids: Optional[Sequence[int]] = None,
              candidates: Optional[DataFrame] = None,
              or_combine: bool = False,
              per_token_topk: Optional[int] = None,
              bounds: Optional[list] = None,
              _as_pandas: bool = False):
        """(token_idx, doc_id, tf, score) for each query token (term or
        phrase), scored block by block by ``query_kernel``.

        One ``_scan`` with ``QK.partition_hits`` as its body: the
        driver-local route (small indexes, zero Spark jobs; slop keeps
        the strict byte cap) or one ``mapInPandas``
        over the pruned postings scan, which repartitions by block_id
        only when phrases, slop or OR-combine need whole blocks on an
        unaligned layout, or after a candidates join. Doclens always
        arrive shuffle-free, read per block from the doclens files
        covering it (SideReader).

        ``or_combine`` sums scores per doc INSIDE the kernel, with the
        matching-token count in token_idx. ``per_token_topk`` keeps each
        token's top-k of every scored batch (a phrase or OR query's
        partition is one batch; so is the driver-local route);
        ``bounds`` (per-token block bounds of an OR top-k) adds the
        kernel's block-max pruning and MaxScore split. An empty
        ``block_ids`` is an empty driver-held result. ``_as_pandas``
        returns pandas (``_scan``'s ``as_pandas``).
        ``candidates`` (a DataFrame with a doc_id column) restricts
        scoring to those docs inside the kernel: candidate ids are
        packed per doc block and joined onto the pruned scan, which also
        drops blocks with no candidates. idf/avgdl/N stay corpus-global.
        """
        if slop != 0:
            from .spans import span_freqs  # noqa: F401  (fail fast on driver)
        all_terms = sorted({t for tok in tokens for t in tok})
        spec = QK.QuerySpec(
            tokens=[list(t) for t in tokens], dfs=self.docfreqs(all_terms),
            num_docs=self.num_docs, avgdl=self.avg_doc_len,
            docs_per_block=self.docs_per_block,
            sim_fn=sim_mod.resolve(similarity), slop=slop,
            min_posn=min_posn, max_posn=max_posn, or_combine=or_combine,
            per_token_topk=per_token_topk, bounds=bounds)
        # metadata block pruning: worthwhile when a phrase has a rare term
        if any(len(t) > 1 for t in spec.tokens) and min(
                spec.dfs.values()) <= spec.num_docs * self.BLOCK_PRUNE_DF_RATIO:
            pruned = self._prune_blocks(spec.tokens, block_ids)
            if pruned is not None:
                block_ids = pruned
        tomb = self._tombstones()  # falsy with no deletes/updates (common)
        dl = self._doclens_lookup()

        def kernel(batches):
            return QK.partition_hits(spec, tomb, dl.get, batches)

        # single-term rows score independently (hot terms are chunked at
        # doc boundaries); phrases, slop and OR-combine need every query
        # term of a block in one kernel call
        whole = or_combine or any(len(t) > 1 for t in spec.tokens)
        return self._scan(kernel, HITS_SCHEMA, terms=all_terms,
                          block_ids=block_ids, whole_blocks=whole,
                          extended=slop == 0, candidates=candidates,
                          as_pandas=_as_pandas)

    def _candidate_blocks(self, candidates: DataFrame) -> DataFrame:
        """(block_id, cand) rows: each block's sorted unique candidate
        local doc ids, packed little-endian int64."""
        dpb = self.docs_per_block

        def pack_ids(pdf: pd.DataFrame) -> pd.DataFrame:
            lids = np.unique(pdf["lid"].to_numpy(dtype=np.int64))
            return pd.DataFrame({"block_id": [int(pdf["block_id"].iloc[0])],
                                 "cand": [lids.astype("<i8").tobytes()]})

        return candidates.select(
            F.floor(F.col("doc_id") / F.lit(dpb)).cast("long").alias("block_id"),
            F.pmod(F.col("doc_id"), F.lit(dpb)).cast("long").alias("lid"),
        ).groupBy("block_id").applyInPandas(
            pack_ids, "block_id long, cand binary")

    def _doclens_lookup(self) -> SideReader:
        """Block -> packed doclens lookup (``.get``) for every route: a
        SideReader over the base and update-segment doclens files,
        their block ranges read from footers once per handle. The plan
        has no doclens-side exchange."""
        if self._dl_reader is None:
            sources = [(0, fsutil.join(self.path, "doclens"))]
            sources += [(s, fsutil.join(self.path, "updates", f"seg={s}",
                                        "doclens"))
                        for s in self._update_segs()]
            self._dl_reader = doclens_reader(sources)
        return self._dl_reader

    # --- public API -------------------------------------------------------
    def termfreqs(self, token: TokenArg, min_posn: Optional[int] = None,
                  max_posn: Optional[int] = None, slop: int = 0,
                  candidates: Optional[DataFrame] = None) -> DataFrame:
        """Sparse per-doc term/phrase frequencies: (doc_id, tf)."""
        toks = _normalize_token(token)
        return _select(self._hits([toks], min_posn=min_posn,
                                  max_posn=max_posn, slop=slop,
                                  candidates=candidates), "doc_id", "tf")

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
        return _select(self._hits([toks], similarity=similarity, slop=slop,
                                  min_posn=min_posn, max_posn=max_posn,
                                  candidates=candidates), "doc_id", "score")

    def score_many(self, tokens: Sequence[TokenArg], similarity=None,
                   slop: int = 0,
                   candidates: Optional[DataFrame] = None) -> DataFrame:
        """Batch scoring of many tokens in one pass: (token_idx, doc_id,
        tf, score). One postings scan + one kernel pass for the whole
        query — the building block for boolean/edismax queries."""
        toks = [_normalize_token(t) for t in tokens]
        return self._hits(toks, similarity=similarity, slop=slop,
                          candidates=candidates)

    def _top_k(self, tokens: List[List[str]], k: int, schema: StructType,
               **kw) -> DataFrame:
        """The one top-k plan, shared by ``top_k``, ``top_k_pruned`` and
        ``top_k_many``: one ``_hits`` call whose kernel keeps each
        token's top-k of every batch it scores (``per_token_topk``; every row
        together under ``or_combine``), then one driver merge under
        (score desc, doc_id asc), the total order of the reference's
        SetOfResults (utils/sort.py:21-45). This is the partition-local
        top-k plus driver merge of REPOSE (ICDE 2021), exact on every
        layout because each block's rows share one partition. The call
        is eager on both routes: the distributed route's one Spark job
        runs inside it (errors and cost show here, not at the caller's
        action), and the driver holds up to k x tokens x batches
        rows. The result is driver-held over ``schema``'s columns of
        (token_idx, doc_id, score, rank)."""
        pdf = self._hits(tokens, per_token_topk=k, _as_pandas=True, **kw)
        out = QK.rank_hits({
            "token_idx": pdf["token_idx"].to_numpy(dtype=np.int32),
            "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
            "score": pdf["score"].to_numpy(dtype=np.float32)}, k,
            kw.get("or_combine", False), len(tokens))
        return _local_df(self.spark, pd.DataFrame(
            {c: out[c] for c in schema.fieldNames()}), schema)

    def top_k(self, token: TokenArg, k: int = 10, similarity=None,
              slop: int = 0, candidates: Optional[DataFrame] = None) -> DataFrame:
        """Global top-k by score, ties broken by doc_id: (doc_id, score).
        Eager on both routes (``_top_k``): the distributed route runs
        its one Spark job inside this call and returns a driver-held
        frame, as the driver-local route does with zero jobs."""
        return self._top_k([_normalize_token(token)], k, TOPK_SCHEMA,
                           similarity=similarity, slop=slop,
                           candidates=candidates)

    # relative safety margin on block upper bounds: the kernel computes
    # scores in float32; bounds are float64-of-float32-inputs, so pad by
    # a few ulps to never prune a block holding a true top-k doc
    _WAND_EPS = 1e-5

    # a query whose candidate block set exceeds this gets no WAND
    # pruning (the bounds bookkeeping would cost more than the one
    # exhaustive job it replaces)
    WAND_EXPAND_CAP = 1 << 16

    def _block_bounds(self, tokens: List[List[str]], sim_fn,
                      cache_key=None) -> Optional[list]:
        """Per-token block score upper bounds for an OR query over
        ``tokens``: one (block ids asc, inflated ubs) pair per token,
        computed from the cached per-term sketches (pure driver math —
        no postings scan, no O(terms x blocks) collect). The kernel
        sums them into block bounds (``query_kernel.score_blocks``).

        The similarity must be monotone increasing in tf and decreasing
        in dl (all built-ins are; callers gate on ``monotone_bounds``):
            ub(term, block) = sim(tf_max, dl_min)
        bounds every doc's term contribution in the block. A phrase
        token's bound uses min(tf_max) over its constituent terms
        (phrase freq <= every constituent tf) with the summed-df idf the
        scorer uses (reference postings.py:652-680). Group-granular
        sketches only loosen bounds, never unsound.

        Returns None when a token's candidate block set exceeds
        WAND_EXPAND_CAP — callers fall back to exhaustive scoring, which
        stays rank-identical.
        """
        if cache_key is not None and cache_key in self._bounds_cache:
            return self._bounds_cache[cache_key]
        all_terms = sorted({t for tok in tokens for t in tok})
        sketches = self._term_sketches(all_terms)
        dfs = self.docfreqs(all_terms)
        per_tok: list = []
        for tok in tokens:
            sks = [sketches[t] for t in tok]
            blocks = _token_blocks(sks, self.WAND_EXPAND_CAP)
            if blocks is None:
                return None
            if not len(blocks):
                per_tok.append((np.empty(0, dtype=np.int64), np.empty(0)))
                continue
            # a phrase's tf is at most every constituent's tf
            tf_m = np.full(len(blocks), np.iinfo(np.int64).max, dtype=np.int64)
            dl_m = np.full(len(blocks), np.iinfo(np.int64).max, dtype=np.int64)
            for sk in sks:
                tf, dl = sk.bounds_at(blocks)
                tf_m = np.minimum(tf_m, tf)
                dl_m = np.minimum(dl_m, dl)
            tok_dfs = np.asarray([dfs[t] for t in tok], dtype=np.float32)
            ubs = np.asarray(
                sim_fn(tf_m.astype(np.float32), tok_dfs,
                       dl_m.astype(np.float32), self.avg_doc_len,
                       self.num_docs),
                dtype=np.float64) * (1.0 + self._WAND_EPS)
            per_tok.append((blocks.astype(np.int64), ubs))
        if cache_key is not None:
            self._bounds_cache[cache_key] = per_tok
        return per_tok

    def top_k_pruned(self, tokens: Union[TokenArg, Sequence[TokenArg]],
                     k: int = 10, similarity=None) -> DataFrame:
        """Block-max pruned OR top-k: (doc_id, score), rank-identical to
        exhaustive scoring (``top_k`` for one token;
        ``search_or(...).orderBy`` for many), on the one top-k plan of
        ``_top_k`` (eager, one Spark job on the distributed route).

        The kernel visits each partition's blocks in descending order of
        their score upper bound, stops at the first block whose bound is
        below the running kth score, and semi-joins non-essential tokens
        (MaxScore) in the blocks it scores: the distributed analogue of
        block-max WAND; the reference scores all docs. A query whose
        tokens occur in no block returns an empty driver-held frame
        without a Spark job.

        Pruning is sound only for similarities monotone increasing in tf
        and decreasing in dl; a custom callable without the
        ``monotone_bounds`` flag (set it yourself if yours qualifies) is
        scored exhaustively instead — same ranks, no unsound skips.
        """
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
        bounds = block_ids = None
        if getattr(sim_fn, "monotone_bounds", False):
            # cache on the callable OBJECT (a strong reference in the
            # key), never id(): CPython reuses ids after GC, so two
            # different bm25_similarity(k1=...) closures created per call
            # could otherwise collide on a stale bounds entry (unsound
            # pruning)
            try:
                cache_key = (tuple(tuple(t) for t in tokens_list),
                             similarity)
                hash(cache_key)
            except TypeError:  # unhashable custom similarity: no cache
                cache_key = None
            bounds = self._block_bounds(tokens_list, sim_fn,
                                        cache_key=cache_key)
            if bounds is not None:
                block_ids = sorted({b for bl, _ in bounds
                                    for b in bl.tolist()})
        return self._top_k(tokens_list, k, TOPK_SCHEMA,
                           similarity=similarity, or_combine=True,
                           block_ids=block_ids, bounds=bounds)

    def top_k_many(self, tokens: Sequence[TokenArg], k: int = 10,
                   similarity=None) -> DataFrame:
        """Top-k per query token in ONE kernel pass (batch scoring):
        (token_idx, doc_id, score, rank), on the one top-k plan of
        ``_top_k`` (eager, one Spark job on the distributed route)."""
        return self._top_k([_normalize_token(t) for t in tokens], k,
                           TOPK_MANY_SCHEMA, similarity=similarity)

    def positions(self, term: str,
                  doc_ids: Optional[Sequence[int]] = None) -> DataFrame:
        """Decoded positions per doc for one term (debug/API parity).

        ``doc_ids`` restricts decoding to those docs (reference
        postings.py:682-687 ``key=``): the scan prunes to their blocks
        and the kernel semi-joins before decoding.
        """
        dpb = self.docs_per_block
        want = None
        if doc_ids is not None:
            want = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        # deleted/replaced content must not decode (same exclusion rule
        # as scoring: a LATER tombstone kills this row's doc)
        tomb = self._tombstones()

        def decode_rows(batches):
            for batch in batches:
                for b, seg, raw in zip(batch["block_id"], batch["seg"],
                                       batch["postings"]):
                    base = int(b) * dpb
                    packed = QK.live_postings(tomb, b, seg, raw)
                    if want is not None:
                        packed = K.slice_keys(packed, want[
                            (want >= base) & (want < base + dpb)] - base)
                    ids, posns = K.decode(packed)
                    if len(ids) == 0:
                        continue
                    starts = np.concatenate(
                        ([0], np.flatnonzero(np.diff(ids)) + 1, [len(ids)]))
                    yield pd.DataFrame({
                        "doc_id": ids[starts[:-1]] + base,
                        "posns": [posns[s:e].astype(np.int32)
                                  for s, e in zip(starts[:-1], starts[1:])],
                    })

        blocks = None if want is None else np.unique(want // dpb).tolist()
        return self._scan(decode_rows, POSITIONS_SCHEMA, terms=[term],
                          block_ids=blocks, whole_blocks=False)

    # --- boolean combinators (reference user-level AND/OR patterns,
    #     test_search.py:146-204) -----------------------------------------
    def search_or(self, tokens: Sequence[TokenArg], mm: int = 1,
                  similarity=None) -> DataFrame:
        """OR query: sum of per-token scores over docs matching >= mm
        tokens. Returns (doc_id, score, n_matches).

        Every token of a doc block is scored in ONE kernel call, so the
        per-doc sum happens kernel-side: the mm filter and a top-k run
        straight off the scoring scan (no exchange on scan-aligned
        indexes, else one repartition by block_id before the kernel)."""
        toks = [_normalize_token(t) for t in tokens]
        return self._hits(toks, similarity=similarity, or_combine=True) \
            .select("doc_id", F.col("score").cast("double").alias("score"),
                    F.col("token_idx").cast("long").alias("n_matches")) \
            .filter(F.col("n_matches") >= mm)

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
