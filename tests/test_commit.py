"""The one commit protocol every index writer goes through (commit.py).

- regressions: a rebuild, a compaction and a merge into a directory
  that holds a mutated index equal a clean write there; a delete_docs
  killed before its epoch record and an update_docs killed after its
  segment build leave the pre-mutation state;
- fault injection: each writer (local build, two-group fused build,
  compact_index, merge_indexes, delete_docs with one and with several
  tombstone files, update_docs) is killed before each of its commit
  steps in turn. Opening then raises or serves the pre-write snapshot
  (the new state once the marker has landed), and re-running the same
  write equals a clean run. After a killed mutation, the next
  delete_docs deletes every file of the uncommitted epoch and equals
  the same delete on a clean copy;
- a fused build whose executor doclens side-write is lost fails and
  writes no meta.json;
- a store without an atomic rename fails before anything is written.

Every compared state is (num_docs, total_tokens, docfreqs, top_k of a
term and a phrase query).
"""
import os
import shutil

import pyarrow.parquet as pq
import pytest

from searcharray_spark import build_index, commit, indexing
from searcharray_spark import index as index_mod
from searcharray_spark.index import SearchIndex
from searcharray_spark.merge import compact_index, merge_indexes

DOCS = [(i, f"w{i % 5} common w{i % 7} tail{i % 3} common")
        for i in range(24)]
DPB = 4  # 6 blocks
TERMS = ["common", "w1", "w3", "tail0", "fresh", "nope"]
UPDATE = [(1, "fresh fresh w1"), (2, "fresh common")]
STEPS = ("delete", "move", "write_parquet", "write_json", "append_line")


class Kill(Exception):
    pass


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _build(spark, path, rows=DOCS, **kw):
    return build_index(spark, _frame(spark, rows), path, doc_id_col="doc_id",
                       docs_per_block=DPB, **kw)


def _state(idx):
    return (idx.num_docs, idx.total_tokens, idx.docfreqs(TERMS),
            [tuple(r) for r in idx.top_k("common", k=30).collect()],
            [tuple(r) for r in idx.top_k(["w1", "common"], k=30).collect()])


def _open_state(spark, path):
    """The state a fresh handle serves, or None when it does not open."""
    try:
        idx = SearchIndex(spark, path)
    except FileNotFoundError:
        return None
    return _state(idx)


def _mutate(spark, path):
    idx = SearchIndex(spark, path)
    idx.delete_docs([1, 3, 5])
    idx.update_docs(_frame(spark, [(2, "fresh w3")]))
    return idx


class _Killer:
    """Patch every commit step; raise Kill instead of step ``at``."""

    def __init__(self, at=None):
        self.at, self.steps, self.real = at, [], {}

    def __enter__(self):
        for name in STEPS:
            real = self.real[name] = getattr(commit, name)

            def step(path, *a, _real=real, _name=name, **kw):
                if len(self.steps) == self.at:
                    raise Kill(f"killed before {_name} {path}")
                self.steps.append((_name, str(path)))
                return _real(path, *a, **kw)
            setattr(commit, name, step)
        return self

    def __exit__(self, *exc):
        for name, real in self.real.items():
            setattr(commit, name, real)


# --- regressions -------------------------------------------------------

def test_rebuild_over_mutated_index(spark, tmp_path):
    clean = _state(_build(spark, str(tmp_path / "clean")))
    path = str(tmp_path / "idx")
    _build(spark, path)
    _mutate(spark, path)
    _build(spark, path)
    assert _open_state(spark, path) == clean
    for gone in ("tombstones", "updates", "stats_log", "stats_patch.json"):
        assert not os.path.exists(os.path.join(path, gone)), gone


def test_compact_into_mutated_dir(spark, tmp_path):
    src = str(tmp_path / "src")
    clean = _state(_build(spark, src))
    out = str(tmp_path / "out")
    _build(spark, out)
    _mutate(spark, out)
    assert _state(compact_index(spark, src, out)) == clean
    assert _open_state(spark, out) == clean


def test_merge_into_mutated_dir(spark, tmp_path):
    clean = _state(_build(spark, str(tmp_path / "clean")))
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _build(spark, a, DOCS[:12])
    _build(spark, b, DOCS[12:])
    out = str(tmp_path / "out")
    _build(spark, out)
    _mutate(spark, out)
    assert _state(merge_indexes(spark, [a, b], out)) == clean
    assert _open_state(spark, out) == clean


def test_delete_killed_before_epoch_record(spark, tmp_path):
    path = str(tmp_path / "idx")
    before = _state(_build(spark, path))
    ref = str(tmp_path / "ref")
    _build(spark, ref).delete_docs([1, 3, 5])
    want = _open_state(spark, ref)

    real = commit.write_json

    def write_json(p, obj):
        if "stats_log" in p:
            raise Kill("killed before the epoch record")
        return real(p, obj)

    commit.write_json = write_json
    try:
        with pytest.raises(Kill):
            SearchIndex(spark, path).delete_docs([1, 3, 5])
    finally:
        commit.write_json = real
    assert _open_state(spark, path) == before
    SearchIndex(spark, path).delete_docs([1, 3, 5])
    assert _open_state(spark, path) == want


def test_update_killed_after_segment_build(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    before = _state(_build(spark, path))
    ref = str(tmp_path / "ref")
    _build(spark, ref).update_docs(_frame(spark, UPDATE))
    want = _open_state(spark, ref)

    real = indexing.build_index

    def killed_after(*a, **kw):
        real(*a, **kw)
        raise Kill("killed after the segment build")

    monkeypatch.setattr(indexing, "build_index", killed_after)
    with pytest.raises(Kill):
        SearchIndex(spark, path).update_docs(_frame(spark, UPDATE))
    monkeypatch.setattr(indexing, "build_index", real)
    assert _open_state(spark, path) == before
    reopened = SearchIndex(spark, path)
    assert reopened.docfreqs(["fresh"]) == {"fresh": 0}
    hits = {r["doc_id"] for r in reopened.score("w1").collect()}
    assert 1 in hits  # doc 1 still has only its old text
    reopened.update_docs(_frame(spark, UPDATE))
    assert _open_state(spark, path) == want


# --- fault-injection matrix ---------------------------------------------

def _template(spark, tmp_path):
    """A committed, mutated index every writer starts from."""
    path = str(tmp_path / "template")
    _build(spark, path)
    _mutate(spark, path)
    return path


def _local_build(spark, tmp_path, monkeypatch):
    return _template(spark, tmp_path), lambda p: _build(spark, p)


def _fused_build(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", 0)
    return _template(spark, tmp_path), lambda p: _build(
        spark, p, term_partitions=4, checkpoint_groups=2)


def _compact(spark, tmp_path, monkeypatch):
    src = _template(spark, tmp_path)
    return _template(spark, tmp_path / "old"), \
        lambda p: compact_index(spark, src, p)


def _merge(spark, tmp_path, monkeypatch):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _build(spark, a, DOCS[:12])
    _build(spark, b, DOCS[12:])
    return _template(spark, tmp_path), lambda p: merge_indexes(
        spark, [a, b], p)


def _delete(spark, tmp_path, monkeypatch):
    return _template(spark, tmp_path), \
        lambda p: SearchIndex(spark, p).delete_docs([0, 7, 8])


def _delete_files(spark, tmp_path, monkeypatch):
    # one row a tombstone file: the epoch spans several files
    monkeypatch.setattr(index_mod, "TOMBSTONE_FILE_ROWS", 1)
    return _delete(spark, tmp_path, monkeypatch)


def _update(spark, tmp_path, monkeypatch):
    return _template(spark, tmp_path), \
        lambda p: SearchIndex(spark, p).update_docs(_frame(spark, UPDATE))


MUTATIONS = (_delete, _delete_files, _update)


def _committed(steps, path):
    """True once one of ``steps`` landed the write's marker."""
    return any(name == "write_json" and (
        target == os.path.join(path, "meta.json")
        or f"{os.sep}stats_log{os.sep}" in target)
        for name, target in steps)


def _tombstone_files(path):
    return [os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(path, "tombstones"))
            for f in fs if f.endswith(".parquet")]


def _epoch_files(path, epoch):
    """The tombstone files and update segment dir of ``epoch``."""
    out = [p for p in _tombstone_files(path)
           if epoch in pq.read_table(p, columns=["seg"]).column(0)
           .to_pylist()]
    seg = os.path.join(path, "updates", f"seg={epoch}")
    return out + ([seg] if os.path.exists(seg) else [])


@pytest.mark.parametrize("writer", [
    _local_build, _fused_build, _compact, _merge, *MUTATIONS,
], ids=lambda f: f.__name__.strip("_"))
def test_kill_at_every_commit_step(spark, tmp_path, monkeypatch, writer):
    template, write = writer(spark, tmp_path, monkeypatch)

    def fresh(name):
        path = str(tmp_path / name)
        shutil.copytree(template, path)
        return path

    pre = _open_state(spark, fresh("pre"))
    clean_path = fresh("clean")
    with _Killer() as counted:
        write(clean_path)
    clean = _open_state(spark, clean_path)
    assert counted.steps
    if writer is _delete_files:
        assert len(_tombstone_files(clean_path)) \
            - len(_tombstone_files(template)) > 1
    if writer in MUTATIONS:
        # the next delete after a killed mutation, on clean copies
        epoch = max(r["epoch"] for r in SearchIndex(
            spark, template).history()) + 1
        nxt = fresh("next_pre")
        SearchIndex(spark, nxt).delete_docs([11])
        after_pre = _open_state(spark, nxt)
        SearchIndex(spark, clean_path).delete_docs([11])
        after_clean = _open_state(spark, clean_path)

    for k, (name, _target) in enumerate(counted.steps):
        path = fresh(f"kill{k}")
        with _Killer(at=k) as killed, pytest.raises(Kill):
            write(path)
        got = _open_state(spark, path)
        committed = _committed(killed.steps, path)
        if committed:
            assert got == clean, (k, name)
        else:
            assert got in (None, pre), (k, name)
        if writer in MUTATIONS:
            swept = str(tmp_path / f"swept{k}")
            shutil.copytree(path, swept)
            SearchIndex(spark, swept).delete_docs([11])
            logged = {r["epoch"] for r in SearchIndex(spark, swept).history()}
            if epoch not in logged:  # killed epoch: no file of it is left
                assert _epoch_files(swept, epoch) == [], (k, name)
            assert _open_state(spark, swept) == (
                after_clean if committed else after_pre), (k, name)
        write(path)
        assert _open_state(spark, path) == clean, (k, name)


# --- fail fast -----------------------------------------------------------

def test_lost_doclens_side_write_fails_the_build(spark, tmp_path,
                                                 monkeypatch):
    monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", 0)
    real = indexing._make_partition_kernel

    def dropping(builder, doclens_dir, fid_base=0):
        kernel = real(builder, doclens_dir, fid_base)

        def run(it):
            yield from kernel(it)
            # the executor's file never reaches the driver's view
            from pyspark import TaskContext
            fid = fid_base + TaskContext.get().partitionId()
            if fid == 1:
                os.remove(os.path.join(doclens_dir, "part-00001.parquet"))
        return run

    monkeypatch.setattr(indexing, "_make_partition_kernel", dropping)
    path = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="no doclens file part-00001"):
        _build(spark, path, term_partitions=4)
    assert not os.path.exists(os.path.join(path, "meta.json"))


def test_store_without_atomic_rename_fails_before_writing(spark):
    with pytest.raises(NotImplementedError, match="atomic rename"):
        _build(spark, "mock:///idx")
    with pytest.raises(NotImplementedError, match="atomic rename"):
        commit.begin("mock:///idx")
