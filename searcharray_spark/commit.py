"""One commit protocol for every index writer.

A write is visible only once its one marker lands, and that marker is
written last:

  index tables (build, merge, compaction,      meta.json
  update segment)
  one group of a checkpointed build            _groups/group_{g}_of_{G}.done
  one mutation epoch (delete/update_docs)      stats_log/epoch_{E}.json

``begin`` opens a directory for a writer: it checks the store, drops
the old marker FIRST (from then on a crash leaves an unreadable index,
never an old marker over new tables) and sweeps every file a previous
owner left there. Files then land under their final names — a parquet
file via a hidden temp name plus rename, so retried executor tasks are
idempotent — and ``publish`` / ``write_json`` land the marker. Readers
trust only markers: a table directory without its ``meta.json`` does
not open, and tombstone files and update segments count only for
epochs with a ``stats_log`` record (SearchIndex); the next mutation
deletes those of an epoch without one before it writes.

Every write goes through ``pyarrow.fs`` resolved from the path or URI
(``fsutil.resolve``); the protocol needs an atomic rename, so a store
without one fails in ``store`` before anything is written.
"""
from __future__ import annotations

import json
import posixpath
import uuid

from . import fsutil

FORMAT_VERSION = 4

# pyarrow filesystems whose move() is an atomic rename (object stores
# emulate it with copy + delete, which a reader can observe half-done)
ATOMIC_RENAME = ("local", "hdfs")

# everything an index directory's writer owns; a build kept for resume
# keeps its committed groups and their table files
OWNED = ("postings", "doclens", "term_stats", "_groups", "tombstones",
         "updates", "stats_log", "stats_patch.json")
RESUMABLE = ("postings", "doclens", "_groups")


def store(path: str):
    """(pyarrow FileSystem, fs path) of a writable location. Raises
    NotImplementedError for a store without an atomic rename."""
    fs, p = fsutil.resolve(path)
    if fs.type_name not in ATOMIC_RENAME:
        raise NotImplementedError(
            f"cannot commit an index to {path!r}: its filesystem "
            f"({fs.type_name}) has no atomic rename")
    return fs, p


def begin(path: str, marker: str = "meta.json",
          resume: bool = False) -> None:
    """Open ``path`` for a writer: drop ``marker``, then sweep what a
    previous owner left (``_groups/`` and the build's tables survive
    when ``resume``)."""
    fs, p = store(path)
    fs.create_dir(p, recursive=True)
    delete(fsutil.join(path, marker))
    keep = RESUMABLE if resume else ()
    for name in fsutil.listdir(path):
        if name in keep:
            continue
        if name in OWNED or name.endswith(".tmp"):
            delete(fsutil.join(path, name))


def delete(path: str) -> None:
    """Remove a file or directory tree; a missing path is a no-op."""
    from pyarrow import fs as pafs
    fs, p = store(path)
    kind = fs.get_file_info(p).type
    if kind == pafs.FileType.Directory:
        fs.delete_dir(p)
    elif kind == pafs.FileType.File:
        fs.delete_file(p)


def move(src: str, dst: str) -> None:
    fs, ps = store(src)
    fs.move(ps, store(dst)[1])


def _staged(fs, p: str, write) -> None:
    """Write ``p`` through a hidden temp sibling, then rename it in."""
    parent = posixpath.dirname(p)
    fs.create_dir(parent, recursive=True)
    tmp = posixpath.join(
        parent, f".{posixpath.basename(p)}-{uuid.uuid4().hex}.tmp")
    write(tmp)
    fs.move(tmp, p)


def write_parquet(path: str, table, **kw) -> None:
    """One parquet file, atomically (safe under task retries)."""
    import pyarrow.parquet as pq
    fs, p = store(path)
    _staged(fs, p, lambda tmp: pq.write_table(table, tmp, filesystem=fs,
                                              **kw))


def write_json(path: str, obj) -> None:
    """A marker or record, atomically."""
    fs, p = store(path)
    data = json.dumps(obj, indent=2).encode("utf-8")

    def write(tmp):
        with fs.open_output_stream(tmp) as fh:
            fh.write(data)
    _staged(fs, p, write)


def publish(path: str, meta: dict) -> dict:
    """Commit the index at ``path``: fill meta's derived fields and land
    ``meta.json``, the marker, last. Returns the written meta."""
    n = int(meta["num_docs"])
    meta = {**meta, "format_version": FORMAT_VERSION,
            "avg_doc_len": float(meta["total_tokens"]) / n if n else 0.0}
    write_json(fsutil.join(path, "meta.json"), meta)
    return meta


def append_line(path: str, obj) -> None:
    """Append one JSON line to a log (metrics.jsonl)."""
    fs, p = store(path)
    with fs.open_append_stream(p) as fh:
        fh.write((json.dumps(obj) + "\n").encode("utf-8"))
