"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

Builds nothing: the engine is the ``searcharray_spark`` package of the
checkout this file sits in, driven through its public API on a
``local[4]`` Spark session. Everything the run writes (corpus, indexes,
Spark and JVM scratch) lives under ``.bench_work/`` in the checkout and is
removed at exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""
from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size override (smoke tests only)")
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` (set before the JVM starts, inherited by its workers)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the engine's default driver heap (48g) does not fit small hosts;
    # the heap is committed and touched up front so that the JVM's share
    # of the peak RSS does not depend on when its collector grew the heap
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{heap} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _stop(spark, sampler) -> None:
    """Stop Spark, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        children = [p for p in sampler.tree() if p != sampler.root]
        if not children:
            return
        time.sleep(0.2)
    for pid in children:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import searcharray_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import workloads as W
    from perfbench.probes import ProcSampler, Trace

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = W.WORKLOADS[args.workload]
    if args.docs:
        spec = dataclasses.replace(spec, n_docs=args.docs)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)

    from searcharray_spark.session import get_spark

    sampler = ProcSampler().start()
    trace = Trace(bool(args.trace))
    wall_start = time.perf_counter()
    spark = None
    try:
        with trace.span("session"):
            spark = get_spark("perfbench", master="local[4]")
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - wall_start
        bench = W.Bench(spark, spec, args.seed, args.seconds, work, trace,
                        sampler)
        result = W.run(bench, session_s, wall_start)
        if trace.enabled:
            trace.dump(os.path.join(
                ROOT, ".bench_work", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            _stop(spark, sampler)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
