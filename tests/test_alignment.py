"""Soundness of the zero-shuffle phrase path's alignment predicate.

The zero-shuffle phrase/slop plan requires every query term's posting
rows for a doc block to land in ONE scan partition. The guarantee rests
on parquet mechanics: a row group is read by the one file split that
contains its byte midpoint, so a SINGLE-row-group file is never split
across scan partitions — regardless of spark.sql.files.maxPartitionBytes
or parallelism. A multi-row-group file, by contrast, DOES split.

These tests pin both halves of that claim empirically, and then the
engine-level consequence: an index whose postings files carry multiple
row groups must fail ``_files_aligned()`` and repartition the pruned
rows by block_id before the kernel, producing results bit-identical to
an aligned index and to the driver-local route — while the zero-shuffle
plan, if forced onto the misaligned layout, demonstrably loses phrase
matches (the silent-wrong-results hazard this predicate exists to stop).
"""
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from searcharray_spark.indexing import build_index, verify_single_row_group

PID_SCHEMA = StructType([
    StructField("pid", IntegerType()),
    StructField("n", LongType()),
])


def _pid_counts(spark, path):
    def kernel(it):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        n = 0
        for pdf in it:
            n += len(pdf)
        yield pd.DataFrame({"pid": [pid], "n": [n]})

    rows = spark.read.parquet(path).mapInPandas(kernel, PID_SCHEMA).collect()
    return sorted((r["pid"], r["n"]) for r in rows if r["n"] > 0)


@pytest.fixture()
def tiny_splits(spark):
    """Scan with an adversarially small split size (forces file splits)."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    yield
    spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _one_file_df(spark):
    return spark.range(0, 20000).select(
        F.col("id"), F.expr("repeat(uuid(), 2)").alias("payload"))


def test_single_row_group_file_never_splits(spark, tmp_path, tiny_splits):
    path = str(tmp_path / "single")
    _one_file_df(spark).coalesce(1).write \
        .option("parquet.block.size", str(2 << 30)).parquet(path)
    assert verify_single_row_group(path)
    nonempty = _pid_counts(spark, path)
    assert len(nonempty) == 1 and nonempty[0][1] == 20000


def test_multi_row_group_file_does_split(spark, tmp_path, tiny_splits):
    path = str(tmp_path / "multi")
    _one_file_df(spark).coalesce(1).write \
        .option("parquet.block.size", str(64 * 1024)).parquet(path)
    assert not verify_single_row_group(path)
    nonempty = _pid_counts(spark, path)
    assert len(nonempty) > 1  # the hazard is real
    assert sum(n for _, n in nonempty) == 20000


# --- engine-level consequence ---------------------------------------------

def _docs():
    """~1200 docs built so the query phrase terms sit at OPPOSITE ends of
    the within-file (term, block) sort — "aaa" first, "zzz" last — with
    megabytes of unique filler terms (m...) between them. Re-chunked into
    tiny row groups under a 64 KiB split size, the two terms' rows for
    the same doc block are then guaranteed to land in different scan
    partitions, realizing the silent-miss hazard."""
    out = []
    for i in range(1200):
        filler = " ".join(f"m{i}x{j}" for j in range(12))
        if i % 3 == 0:
            out.append(f"aaa zzz {filler}")         # phrase match
        elif i % 3 == 1:
            out.append(f"aaa {filler} zzz")          # both terms, no match
        else:
            out.append(f"zzz aaa zzz aaa zzz {filler}")  # two matches
    return out


DOCS = _docs()


def _build(spark, path):
    pdf = pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS})
    return build_index(spark, spark.createDataFrame(pdf), path,
                       doc_id_col="doc_id", docs_per_block=64)


def _rechunk_postings(path, rows_per_group=7):
    """Rewrite every postings file with many tiny row groups, simulating
    a build whose data out-compressed parquet.block.size."""
    import pyarrow.parquet as pq
    root = os.path.join(path, "postings")
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if f.endswith(".crc"):  # stale hadoop checksums after rewrite
                os.remove(p)
            elif f.endswith(".parquet"):
                tbl = pq.read_table(p)
                pq.write_table(tbl, p, row_group_size=rows_per_group)


def _misaligned(spark, path):
    """An index whose postings files hold many row groups, recorded the
    way a writer records a failed footer check
    (``postings_single_row_group: false``)."""
    import json
    _build(spark, path)
    _rechunk_postings(path)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    meta["postings_single_row_group"] = False
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def _phrase_rows(idx, phrase):
    return sorted(
        (r["doc_id"], r["tf"])
        for r in idx.termfreqs(phrase).collect() if r["tf"] > 0)


def test_misaligned_index_falls_back_and_stays_correct(spark, tmp_path,
                                                       tiny_splits):
    from searcharray_spark.index import SearchIndex

    good = _build(spark, str(tmp_path / "good"))
    assert good.meta["postings_single_row_group"] is True
    assert good._files_aligned() is True
    truth = _phrase_rows(good, ["aaa", "zzz"])
    assert truth  # phrase present

    bad_path = str(tmp_path / "bad")
    _misaligned(spark, bad_path)
    bad = SearchIndex(spark, bad_path)
    # the driver-local path reads whole files and is immune to row-group
    # misalignment; pin the distributed scan — IT is what's under test
    bad.LOCAL_QUERY_MAX_BYTES = bad.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    assert bad._files_aligned() is False  # recorded flag
    assert _phrase_rows(bad, ["aaa", "zzz"]) == truth  # repartitioned

    # negative control: force the zero-shuffle path onto the misaligned
    # layout — phrase matches silently vanish, proving the predicate is
    # load-bearing (not merely conservative)
    bad._aligned = True
    forced = _phrase_rows(bad, ["aaa", "zzz"])
    assert forced != truth


def test_recorded_false_flag_disables_zero_shuffle(spark, tmp_path):
    from searcharray_spark.index import SearchIndex

    path = str(tmp_path / "flagged")
    _build(spark, path)
    import json
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    meta["postings_single_row_group"] = False
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    idx = SearchIndex(spark, path)
    assert idx._files_aligned() is False


def _distributed(spark, path):
    from searcharray_spark.index import SearchIndex
    idx = SearchIndex(spark, path)
    idx.LOCAL_QUERY_MAX_BYTES = 0
    idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    assert not idx._local_query_ok(extended=True)
    return idx


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> list:
    return [ln for ln in plan.splitlines() if "Exchange" in ln]


def _or_rows(idx):
    return sorted(tuple(r) for r in idx.search_or(["aaa", "zzz"], mm=1)
                  .collect())


def test_search_or_fallback_on_misaligned_single_terms(spark, tmp_path,
                                                       tiny_splits):
    """Kernel-side OR-combine needs every token of a block in one kernel
    call. A misaligned index repartitions the pruned rows by block_id
    first, so its OR results equal the aligned index's exactly: the same
    kernel sums each doc in float64 and casts to float32 on both."""
    _build(spark, str(tmp_path / "og"))
    good = _distributed(spark, str(tmp_path / "og"))
    assert good._files_aligned() is True
    assert not _exchanges(_plan(good.search_or(["aaa", "zzz"])))
    truth = _or_rows(good)
    assert truth

    bad_path = str(tmp_path / "ob")
    _misaligned(spark, bad_path)
    bad = _distributed(spark, bad_path)
    assert bad._files_aligned() is False
    ex = _exchanges(_plan(bad.search_or(["aaa", "zzz"])))
    assert len(ex) == 1 and "hashpartitioning(block_id" in ex[0], ex
    assert _or_rows(bad) == truth


# --- route parity: driver-local vs distributed aligned vs unaligned -------

def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _ordered(df):
    return [tuple(r) for r in df.collect()]


def _even_docs(spark):
    return spark.range(0, len(DOCS), 2).withColumnRenamed("id", "doc_id")


OR3 = ["aaa", "zzz", "m7x3"]

# shape -> query rows (ordered for top-k shapes)
SHAPES = {
    "term": lambda i, s: _sorted(i.score("aaa")),
    "phrase": lambda i, s: _sorted(i.score(["aaa", "zzz"])),
    "slop": lambda i, s: _sorted(i.score(["zzz", "aaa"], slop=2)),
    "or": lambda i, s: _sorted(i.search_or(OR3, mm=1)),
    "top_k_pruned": lambda i, s: _ordered(i.top_k_pruned(OR3, k=9)),
    "top_k_many": lambda i, s: _ordered(
        i.top_k_many([["aaa"], ["aaa", "zzz"], ["zzz"]], k=9)),
    "candidates": lambda i, s: _sorted(
        i.score(["aaa", "zzz"], candidates=_even_docs(s))),
}

# lazy frames whose plans are checked; the value says whether the
# unaligned layout must repartition by block_id before the kernel
PLANS = {
    "term": (lambda i: i.score("aaa"), False),
    "phrase": (lambda i: i.score(["aaa", "zzz"]), True),
    "slop": (lambda i: i.score(["zzz", "aaa"], slop=2), True),
    "or": (lambda i: i.search_or(OR3, mm=1), True),
}


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("parity")
    _build(spark, str(root / "aligned"))
    _misaligned(spark, str(root / "unaligned"))
    return str(root / "aligned"), str(root / "unaligned")


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_routes_and_layouts_bit_identical(spark, layouts, tiny_splits,
                                          shape):
    from searcharray_spark.index import SearchIndex
    aligned_path, unaligned_path = layouts
    local = SearchIndex(spark, aligned_path)
    assert local._local_query_ok(extended=True)
    aligned = _distributed(spark, aligned_path)
    unaligned = _distributed(spark, unaligned_path)
    assert aligned._files_aligned() and not unaligned._files_aligned()

    want = SHAPES[shape](local, spark)
    assert want
    if shape == "candidates":  # always distributed: check the filter too
        assert want == [r for r in _sorted(local.score(["aaa", "zzz"]))
                        if r[0] % 2 == 0]
    assert SHAPES[shape](aligned, spark) == want
    assert SHAPES[shape](unaligned, spark) == want

    if shape in PLANS:
        frame, repartitions = PLANS[shape]
        assert not _exchanges(_plan(frame(aligned)))
        plan = _plan(frame(unaligned))
        ex = _exchanges(plan)
        if repartitions:
            assert len(ex) == 1 and "hashpartitioning(block_id" in ex[0], ex
        else:
            assert not ex, ex
        for marker in ("FlatMapGroupsInPandas", "Window"):
            assert marker not in plan
