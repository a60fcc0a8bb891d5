"""Read side of the index store: local paths and URIs.

Every driver/executor-side metadata or side-input read (meta.json,
doclens/tombstone side tables, parquet footer walks) is routed through
``pyarrow.fs``, so any scheme ``pyarrow.fs.FileSystem.from_uri``
resolves (file://, hdfs://, s3://, gcs://...) reads without code
changes. Spark's own table scans take the original URI (Hadoop FS
layer). Plain local paths skip URI parsing. Writes live in ``commit``,
which accepts only stores with an atomic rename.

tests/test_remote_fs.py drives LocalFileSystem through file:// URIs end
to end; schemes pyarrow cannot resolve fail fast with a clear message.
"""
from __future__ import annotations

import json
import posixpath
from typing import List, Tuple


def resolve(path: str):
    """(pyarrow FileSystem, fs-internal path) for a path or URI."""
    from pyarrow import fs as pafs
    if "://" in path:
        try:
            return pafs.FileSystem.from_uri(path)
        except Exception as exc:
            scheme = path.split("://", 1)[0]
            raise NotImplementedError(
                f"unsupported index location scheme '{scheme}://' "
                f"(pyarrow.fs could not resolve it: {exc})") from exc
    return pafs.LocalFileSystem(), path


def join(base: str, *parts: str) -> str:
    """Path join that preserves a URI scheme (posix separator)."""
    return posixpath.join(base, *parts)


def read_json(path: str):
    fs, p = resolve(path)
    with fs.open_input_stream(p) as fh:
        return json.loads(fh.read().decode("utf-8"))


def exists(path: str) -> bool:
    from pyarrow import fs as pafs
    f, p = resolve(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def isdir(path: str) -> bool:
    from pyarrow import fs as pafs
    f, p = resolve(path)
    return f.get_file_info(p).type == pafs.FileType.Directory


def listdir(path: str) -> List[str]:
    """Base names of direct children (empty if missing)."""
    from pyarrow import fs as pafs
    f, p = resolve(path)
    if f.get_file_info(p).type != pafs.FileType.Directory:
        return []
    sel = pafs.FileSelector(p, recursive=False, allow_not_found=True)
    return [posixpath.basename(i.path) for i in f.get_file_info(sel)]


def parquet_file_infos(root: str) -> list:
    """[(full path-or-URI, pyarrow FileInfo)] of every .parquet under
    root, recursive, sorted by path (empty if root missing)."""
    from pyarrow import fs as pafs
    f, p = resolve(root)
    if f.get_file_info(p).type != pafs.FileType.Directory:
        return []
    sel = pafs.FileSelector(p, recursive=True, allow_not_found=True)
    prefix = root[: len(root) - len(p)]  # scheme prefix ('' for local)
    return sorted(((prefix + info.path, info)
                   for info in f.get_file_info(sel)
                   if info.is_file and info.path.endswith(".parquet")),
                  key=lambda e: e[0])


def list_parquet_files(root: str) -> List[Tuple[str, int]]:
    """[(full path-or-URI, size)] of every .parquet under root,
    recursive, sorted by path (empty if root missing)."""
    return [(p, int(info.size)) for p, info in parquet_file_infos(root)]


# footer_ranges results by (path, size, mtime_ns, columns): a rescan of a
# growing directory (one tombstone file per mutation epoch) reads only the
# footers of new or rewritten files. Emptied when full (single dict
# operations, so concurrent driver threads need no lock).
_FOOTER_CACHE: dict = {}
_FOOTER_CACHE_MAX = 1 << 16


def footer_ranges(root: str, columns: Tuple[str, ...]) -> list:
    """[(path, (size, mtime_ns), {column: (min, max)})] for every parquet
    file with rows under root, from footer statistics (a column a writer
    left without them is read instead); no data pages are read. The
    (size, mtime_ns) stamp is the listing's, the key side-table caches
    use for the file's content."""
    out = []
    for p, info in parquet_file_infos(root):
        stamp = (int(info.size), int(info.mtime_ns))
        key = (p, stamp, columns)
        rng = _FOOTER_CACHE.get(key)
        if rng is None:
            rng = _file_ranges(p, columns)
            if len(_FOOTER_CACHE) >= _FOOTER_CACHE_MAX:
                _FOOTER_CACHE.clear()
            _FOOTER_CACHE[key] = rng
        if rng:
            out.append((p, stamp, rng))
    return out


def _file_ranges(path: str, columns) -> dict:
    md = parquet_file(path).metadata
    if md.num_rows == 0:
        return {}
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    out = {}
    for c in columns:
        ci = names.index(c)
        stats = [md.row_group(g).column(ci).statistics
                 for g in range(md.num_row_groups)]
        if all(s is not None and s.has_min_max for s in stats):
            out[c] = (min(int(s.min) for s in stats),
                      max(int(s.max) for s in stats))
        else:
            import pyarrow.compute as pc
            mm = pc.min_max(read_parquet(path, columns=[c]).column(c))
            out[c] = (int(mm["min"].as_py()), int(mm["max"].as_py()))
    return out


def read_parquet(path: str, columns=None, filters=None, **kw):
    """pyarrow table read that works for paths and URIs (file or dir)."""
    import pyarrow.parquet as pq
    f, p = resolve(path)
    return pq.read_table(p, columns=columns, filters=filters, filesystem=f,
                         **kw)


def parquet_file(path: str):
    """pyarrow.parquet.ParquetFile for a path or URI (footer access)."""
    import pyarrow.parquet as pq
    f, p = resolve(path)
    return pq.ParquetFile(p, filesystem=f)
