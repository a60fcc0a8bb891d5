"""Outside-in probes: the benchmark observes the engine only through
counters that already exist outside it.

- ``ProcSampler``: CPU seconds and RSS of this process tree from
  ``/proc`` (driver Python, the Spark JVM, and the JVM's Python workers).
- ``SparkCalls``: one Spark job group per engine call; jobs, stages,
  tasks and failed tasks are read back from ``statusTracker()``.
- ``Trace``: in-memory spans recorded around calls into each layer.
- ``tree_bytes``: on-disk bytes and file count of an index table.
"""
from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from typing import Dict, List, Optional

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "py_workers")


def tree_bytes(path: str) -> tuple:
    """(bytes, data files) under ``path``; data files exclude Spark's
    ``_SUCCESS``/``.crc`` bookkeeping."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if not (n.startswith("_") or n.startswith(".")):
                files += 1
    return total, files


def _read_stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after "comm": state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14 ... rss=21 (pages)
    return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]) * _PAGE


def _kind(pid: int, root: int) -> str:
    """Read on every sample: the JVM starts as a launcher shell script
    that later execs ``java`` under the same pid."""
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
    except OSError:
        return "py_workers"
    return "jvm" if comm == "java" else "py_workers"


class ProcSampler:
    """Samples this process tree every ``interval`` seconds on a daemon
    thread. CPU per pid is cumulative, so the last reading of each pid
    is kept; RSS is summed per kind at each sample and the peaks kept."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self._cpu: Dict[int, tuple] = {}   # pid -> (kind, ticks)
        self.peak_rss = dict.fromkeys(KINDS, 0)
        self.peak_total = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def tree(self) -> Dict[int, tuple]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children = defaultdict(list)
        for pid, (ppid, _c, _r) in stats.items():
            children[ppid].append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children[pid])
        return out

    def sample(self) -> None:
        tree = self.tree()
        rss = dict.fromkeys(KINDS, 0)
        with self._lock:
            for pid, (_pp, ticks, r) in tree.items():
                kind = _kind(pid, self.root)
                self._cpu[pid] = (kind, ticks)
                rss[kind] += r
            for k in KINDS:
                self.peak_rss[k] = max(self.peak_rss[k], rss[k])
            self.peak_total = max(self.peak_total, sum(rss.values()))

    def cpu_seconds(self) -> Dict[str, float]:
        out = dict.fromkeys(KINDS, 0.0)
        with self._lock:
            for kind, ticks in self._cpu.values():
                out[kind] += ticks / _CLK
        return out

    def tree_cpu_now(self) -> float:
        """Tree CPU seconds right now (for a delta around one call)."""
        return sum(t for _pp, t, _r in self.tree().values()) / _CLK


class SparkCalls:
    """Runs each engine call in its own Spark job group and resolves the
    groups' jobs/stages/tasks from the status tracker afterwards (the
    listener bus is asynchronous, so counts are read once, at the end)."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self._ids = itertools.count()

    @contextmanager
    def group(self):
        gid = f"{self.prefix}-{next(self._ids)}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every job event."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # internal API: fall back to a grace period
            time.sleep(1.0)

    def counts(self, gid: str) -> Dict[str, int]:
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in st.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sinfo = st.getStageInfo(sid)
                if sinfo is None or sinfo.numCompletedTasks + sinfo.numFailedTasks == 0:
                    continue  # skipped (its output was reused)
                out["stages"] += 1
                out["tasks"] += sinfo.numCompletedTasks
                out["failed_tasks"] += sinfo.numFailedTasks
        return out


class Trace:
    """Spans around calls into each layer: name, start, end, parent and
    request id, kept in memory. Disabled traces record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str, request: Optional[str] = None,
             parent: Optional[dict] = None):
        """Context manager yielding the span record (None when tracing
        is off). The parent is the innermost open span of this thread,
        or ``parent`` for the first span of a worker thread."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, request, parent)

    @contextmanager
    def _span(self, name: str, request: Optional[str],
              parent: Optional[dict]):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else parent
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "request": request or (parent["request"] if parent else None),
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_seconds(self) -> Dict[str, float]:
        """Per span name: total duration minus the part of it covered by
        the union of its child spans (children on concurrent client
        threads overlap, so they are merged, not summed)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, float("-inf")
            for a, b in sorted(kids[s["id"]]):
                a = max(a, reach)
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)

    def top_level_seconds(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None)
