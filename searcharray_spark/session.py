"""SparkSession helper with engine-appropriate defaults."""
from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession


def get_spark(app_name: str = "searcharray_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") \
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # Keep numpy/pandas kernel memory REUSABLE in python workers: by
    # default glibc mmap()s allocations >32MB and munmap()s them on
    # free, so every big kernel temporary is fresh kernel pages — on
    # overcommitted/ballooned hosts first-touch can cost ~0.5 ms/page
    # (measured on the bench VM: 8 s to touch 57 MB). Raising the mmap
    # and trim thresholds keeps those buffers on the retained heap, so
    # only the first kernel call per worker pays the fault cost.
    # ARROW_DEFAULT_MEMORY_POOL=system routes pyarrow buffers through
    # the same tuned malloc. Inherited by the JVM and its python
    # workers (set before the JVM launches); no-ops on healthy hosts.
    for var, val in (("MALLOC_MMAP_THRESHOLD_", str(1 << 30)),
                     ("MALLOC_TRIM_THRESHOLD_", str(1 << 30)),
                     ("ARROW_DEFAULT_MEMORY_POOL", "system")):
        os.environ.setdefault(var, val)
    # executor python workers must be able to import this package no
    # matter the driver's cwd (cluster deploys use --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # our kernels are CPU-heavy per byte; AQE's size-based partition
        # coalescing would serialize them onto a few reducers
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # MAX/MIN/COUNT over plain parquet columns answered from footer
        # statistics (guide §6): the fused build's max(doc_id) probe
        # becomes metadata-only instead of a column scan
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # PySpark's error call-site capture walks the Python stack and
        # does a py4j roundtrip on EVERY DataFrame API call (plus a
        # one-time ~0.5s IPython import probe). An engine makes tens of
        # thousands of API calls per session; errors keep full JVM
        # stack traces, they just lose the user's .py line annotation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _prewarm_python_workers(spark)
    return spark


_PREWARMED: set = set()


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Spin up the session's Python worker pool once, at session
    creation: one trivial mapInPandas task per core imports
    numpy/pandas/pyarrow (and the kernel module) in each worker, so the
    FIRST real python stage — an index build or a cold query — doesn't
    pay ~0.3-0.8 s per concurrent worker of fork+import latency (guide
    §4.5: heavyweight init once per task; this moves it to once per
    worker POOL, reused across the session by
    spark.python.worker.reuse). Worker reuse alone does not make a task
    cheap: PySpark re-runs importlib.invalidate_caches() in every task,
    which before CPython 3.13 re-reads every zip archive's directory
    (~0.2 s CPU per task) unless the package import has installed
    _StampedZipImporter — the kernel import here installs it in each
    pooled worker before the first query. Also exercises Arrow
    serialization and the noop write path, warming their JVM codegen.
    Best-effort: a worker the prewarm misses installs it on its first
    engine task. Opt out with SPARK_GRAFT_PREWARM=0."""
    if os.environ.get("SPARK_GRAFT_PREWARM", "1") != "1":
        return
    key = id(spark.sparkContext)
    if key in _PREWARMED:
        return
    _PREWARMED.add(key)

    def _warm(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        try:  # kernel import: present unless shipped via --py-files only
            from searcharray_spark import kernels  # noqa: F401
        except Exception:
            pass
        for pdf in it:
            yield pdf

    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F
        n = max(1, spark.sparkContext.defaultParallelism)
        spark.sparkContext.setJobDescription("python worker pool prewarm")
        tmp = tempfile.mkdtemp(prefix="sa_prewarm_")
        try:
            # one tiny job through the engine's hot plan shape —
            # exchange -> python kernel -> parquet write — so the first
            # real build/query pays no whole-stage-codegen, shuffle
            # subsystem, Arrow serializer, or parquet writer first-use
            # costs either
            (spark.range(2 * n, numPartitions=2)
             .repartition(n, F.col("id"))
             .mapInPandas(_warm, "id long")
             .write.mode("overwrite").parquet(tmp))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.sparkContext.setJobDescription(None)
    except Exception:
        pass  # prewarm is best-effort; never block session creation


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class _StampedZipImporter(zipimport.zipimporter):
    """zipimporter whose invalidate_caches re-reads the archive's
    directory only when the archive changed.

    PySpark's worker calls importlib.invalidate_caches() at the start of
    EVERY task (worker_util.setup_spark_files), and before CPython 3.13
    that makes every cached zipimporter re-parse its whole archive
    directory right away. A worker holds one importer per imported
    package inside pyspark.zip, plus py4j and any --py-files zip: ~27k
    directory entries, ~0.2 s of worker CPU per task, even for a task
    that runs no engine code. Like FileFinder does for directories, this
    keeps the archive's (st_mtime_ns, st_size) stamp from construction
    or its last directory read, and re-reads only when os.stat shows a
    different one, so a rewritten archive is still picked up."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _archive_stamp(self.archive)

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def _install_worker_zip_importer() -> None:
    """Inside a Spark Python worker task (called at package import),
    route this process's zip imports through _StampedZipImporter:
    importers already in sys.path_importer_cache switch class in place —
    they keep their directory (no re-read) and stay the objects imported
    modules hold as __loader__ — and the zipimporter path hook is
    replaced for archives added later. A no-op on the driver (no task
    context) and on CPython >= 3.13, whose zipimporter invalidates
    lazily."""
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    sys.path_hooks[:] = [_StampedZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for imp in list(sys.path_importer_cache.values()):
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = _StampedZipImporter
            imp._stamp = _archive_stamp(imp.archive)
