"""The benchmark's workloads and the metrics they report.

Both workloads share one set-up: generate the corpus, then build the
index with the fused build, open it and cache it, ``SETUP_REPS`` times
(the last index is served), then a warm pass over the query mix.

- ``serve_small``: one client, closed loop, on the driver-local query
  route (an index far below the engine's local-route byte caps).
- ``serve_large``: four clients, closed loop, on the distributed route
  (mapInPandas then TakeOrdered). The index is the same size as
  ``serve_small``'s; the route is selected by setting the handle's
  ``LOCAL_QUERY_*_MAX_BYTES`` caps to 0, which is what an index above
  the caps gets. Each client's loop covers about a quarter of the mix in
  one run, so most queries reach the engine's per-term state cold (their
  first call runs extra Spark jobs), as varied traffic on a large index
  would.

A traced ``serve_small`` run then also times the resumable build
(``checkpoint_groups=4``) and isolated kernels on its corpus and index,
and runs the maintenance phase (``maintain``): updates, deletes and
compaction, with the queries read between them.
"""
from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import searcharray_spark as sa
from searcharray_spark import kernels, spans, tokenizers
from searcharray_spark.similarity import bm25_similarity

from . import inputs, oracle
from .probes import KINDS, ProcSampler, SparkCalls, Trace, tree_bytes
from .stats import median, percentile, tail_percentile

# set-ups per run; setup_s and build_docs_per_s are their medians, since
# the first builds in a fresh JVM run while its JIT is still warming up
SETUP_REPS = 3
# The maintenance phase runs on an index of its own, with a small
# vocabulary because compaction runs one Python group per (term, block).
MAINT_VOCAB = 300
MAINT_ROUNDS = 2


@dataclass(frozen=True)
class Spec:
    n_docs: int
    vocab: int
    clients: int
    route: str              # "local" | "distributed"
    # a traced run also times isolated kernels, the resumable build and
    # the maintenance phase
    extras: bool = False


# 18,000 docs keeps every build on the fused distributed path (the
# engine builds corpora of <= 16,384 docs on the driver) and the postings
# file (~3.8 MB) below Spark's 4 MiB minimum split for every seed, so the
# distributed route scans it in one task whatever the seed.
WORKLOADS: Dict[str, Spec] = {
    "serve_small": Spec(18_000, 30_000, 1, "local", extras=True),
    "serve_large": Spec(18_000, 30_000, 4, "distributed"),
}

END_TO_END = ("setup_s", "build_docs_per_s", "index_bytes_per_text_byte",
              "query_p50_ms", "query_p90_ms", "query_qps", "peak_rss_mb")

QUERY_LAYERS = tuple(f"index.{call}.{shape}" for call, shape in inputs.SHAPES)
SELF_MODULES = ("session", "webcorpus", "indexing", "index", "merge",
                "tokenizers", "kernels", "spans", "similarity", "bench")
PER_LAYER = (
    ("spark.session_start_s", "s", "lower"),
    ("webcorpus.generate_corpus.s", "s", "lower"),
    ("indexing.build_index.s", "s", "lower"),
    ("indexing.build_index.cpu_s", "s", "lower"),
    ("indexing.build_index.spark_jobs", "count", "lower"),
    ("indexing.build_index.spark_tasks", "count", "lower"),
    ("indexing.build_index_ckpt.s", "s", "lower"),
    ("indexing.build_index_ckpt.docs_per_s", "docs/s", "higher"),
    ("tokenizers.ws_tokenizer.mtokens_per_s", "Mtokens/s", "higher"),
    ("kernels.encode_multi.ns_per_posting", "ns", "lower"),
    ("kernels.phrase_freqs.ms", "ms", "lower"),
    ("spans.span_freqs.ms", "ms", "lower"),
    ("similarity.bm25_similarity.ns_per_doc", "ns", "lower"),
    ("index.SearchIndex.open_ms", "ms", "lower"),
    ("index.cache_s", "s", "lower"),
    *((f"{q}.{m}", u, "lower") for q in QUERY_LAYERS
      for m, u in (("p50_ms", "ms"), ("spark_jobs", "count"))),
    ("index.update_docs.ms", "ms", "lower"),
    ("index.query_after_update.p50_ms", "ms", "lower"),
    ("index.query_after_compact.p50_ms", "ms", "lower"),
    ("index.update_docs.spark_jobs", "count", "lower"),
    ("index.delete_docs.ms", "ms", "lower"),
    ("storage.bytes_written_per_update", "B", "lower"),
    ("merge.compact_index.s", "s", "lower"),
    ("merge.compact_index.cpu_s", "s", "lower"),
    ("merge.compact_index.spark_tasks", "count", "lower"),
    ("storage.postings_bytes", "B", "lower"),
    ("storage.doclens_bytes", "B", "lower"),
    ("storage.term_stats_bytes", "B", "lower"),
    ("storage.postings_files", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    *((f"cpu.{k}_s", "s", "lower") for k in KINDS),
    *((f"mem.{k}_peak_mb", "MB", "lower") for k in KINDS),
    ("query.p50_ms", "ms", "lower"),
    ("query.samples", "count", "higher"),
    ("query.tail_pct", "%", "higher"),
    ("query.tail_ms", "ms", "lower"),
    ("op_fail_frac", "ratio", "lower"),
    ("trace.top_level_share", "ratio", "higher"),
    *((f"{m}.self_s", "s", "lower") for m in SELF_MODULES),
)
E2E_UNITS = {"setup_s": "s", "build_docs_per_s": "docs/s",
             "index_bytes_per_text_byte": "B/B", "query_p50_ms": "ms",
             "query_p90_ms": "ms", "query_qps": "1/s", "peak_rss_mb": "MB"}


@dataclass
class Call:
    name: str            # metric prefix, e.g. index.top_k.term_hot
    seconds: float
    group: str
    ok: Optional[bool] = True
    cpu_s: float = 0.0


@dataclass
class Bench:
    spark: object
    spec: Spec
    seed: int
    seconds: float
    work: str
    trace: Trace
    sampler: ProcSampler
    calls: SparkCalls = None
    log: List[Call] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def __post_init__(self):
        self.calls = SparkCalls(self.spark, f"pb{os.getpid()}")

    def timed(self, name: str, fn: Callable, request: Optional[str] = None,
              parent: Optional[dict] = None, cpu: bool = False):
        """Run one engine call in its own job group and span; returns
        (result, Call). An exception marks the call failed."""
        c0 = self.sampler.tree_cpu_now() if cpu else 0.0
        out, ok = None, True
        with self.calls.group() as gid, \
                self.trace.span(name.rsplit(".", 1)[0] if name in QUERY_SET
                                else name, request, parent):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # counted in op_fail_frac
                print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr,
                      flush=True)
                ok = False
            dt = time.perf_counter() - t0
        call = Call(name, dt, gid, ok,
                    self.sampler.tree_cpu_now() - c0 if cpu else 0.0)
        with self.lock:
            self.log.append(call)
        return out, call


QUERY_SET = frozenset(QUERY_LAYERS)


def run_query(idx, q: inputs.Query):
    """One engine query, materialized; hits as (doc, score) lists."""
    if q.call == "top_k":
        tok = q.tokens[0]
        rows = idx.top_k(tok if isinstance(tok, str) else list(tok),
                         k=inputs.K, slop=q.slop).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
    if q.call == "top_k_pruned":
        rows = idx.top_k_pruned(list(q.tokens), k=inputs.K).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
    toks = [t if isinstance(t, str) else list(t) for t in q.tokens]
    rows = idx.top_k_many(toks, k=inputs.K).collect()
    per = [[] for _ in toks]
    for r in sorted(rows, key=lambda r: (r["token_idx"], r["rank"])):
        per[int(r["token_idx"])].append((int(r["doc_id"]), float(r["score"])))
    return per


def _query_name(q: inputs.Query) -> str:
    return f"index.{q.call}.{q.shape}"


# --- set-up -----------------------------------------------------------

@dataclass
class Served:
    idx: object
    path: str
    corpus_path: str
    texts: Dict[int, str]
    setup_s: List[float]
    build_s: List[float]


def _open(b: Bench, path: str, request: str):
    idx, _ = b.timed("index.SearchIndex.open",
                     lambda: sa.SearchIndex(b.spark, path), request)
    if b.spec.route == "distributed":
        idx.LOCAL_QUERY_MAX_BYTES = 0
        idx.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    return idx


def setup(b: Bench, mix: List[inputs.Query]) -> Served:
    """Generate the corpus, then build, open and cache its index
    ``SETUP_REPS`` times; the last index is served."""
    corpus_path = os.path.join(b.work, "corpus")
    with b.trace.span("bench.setup", "corpus"):
        _, gen = b.timed("webcorpus.generate_corpus", lambda: inputs.write_corpus(
            b.spark, b.spec.n_docs, b.seed, b.spec.vocab, corpus_path), "corpus")
    setup_s, build_s = [], []
    path = None
    for rep in range(SETUP_REPS):
        req = f"setup-{rep}"
        if path is not None:  # keep one index on disk and in memory
            b.spark.catalog.clearCache()
            shutil.rmtree(path, ignore_errors=True)
        path = os.path.join(b.work, f"index-{rep}")
        with b.trace.span("bench.setup", req):
            t0 = time.perf_counter()
            _, build = b.timed(
                "indexing.build_index", lambda: sa.build_index(
                    b.spark, b.spark.read.parquet(corpus_path), path,
                    doc_id_col="doc_id"), req, cpu=True)
            idx = _open(b, path, req)
            b.timed("index.cache", idx.cache, req)
            setup_s.append(gen.seconds + time.perf_counter() - t0)
            build_s.append(build.seconds)
    served = Served(idx, path, corpus_path, None, setup_s, build_s)
    with b.trace.span("bench.warm"):
        # driver-local route: each term's first query loads its postings,
        # which users pay once per term, so the whole mix is warmed.
        # Distributed route: one query per shape compiles that shape's
        # plans; the rest of the mix stays cold (see serve_large above).
        warm = mix if b.spec.route != "distributed" else mix[:len(inputs.SHAPES)]
        with ThreadPoolExecutor(b.spec.clients) as pool:
            list(pool.map(lambda q: run_query(served.idx, q), warm))
        served.texts = inputs.read_texts(served.corpus_path)
    return served


# --- measured loops ---------------------------------------------------

@dataclass
class Loop:
    queries: List[tuple] = field(default_factory=list)  # (Call, qi, hits)
    seconds: float = 0.0


def serve_loop(b: Bench, idx, mix) -> Loop:
    loop = Loop()
    deadline = time.perf_counter() + b.seconds

    def client(ci: int, parent):
        i = ci * len(mix) // b.spec.clients
        with b.trace.span("bench.client", f"client-{ci}", parent) as cspan:
            while time.perf_counter() < deadline:
                qi = i % len(mix)
                hits, call = b.timed(_query_name(mix[qi]),
                                     lambda: run_query(idx, mix[qi]),
                                     f"c{ci}-q{i}", cspan)
                with b.lock:
                    loop.queries.append((call, qi, hits))
                i += 1

    with b.trace.span("bench.loop") as lspan:
        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c, lspan))
                   for c in range(b.spec.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        loop.seconds = time.perf_counter() - t0
    return loop


def check(corpus: oracle.Corpus, mix, got) -> None:
    """Mark each (Call, query index, hits) of ``got`` failed unless the
    oracle accepts its hits."""
    preds = {}
    for call, qi, hits in got:
        if call.ok:
            if qi not in preds:
                preds[qi] = oracle.expect(corpus, mix[qi])
            call.ok = preds[qi](hits, inputs.K)


def maintain(b: Bench) -> Dict[str, float]:
    """The maintenance phase: ``MAINT_ROUNDS`` rounds of ``update_docs``,
    ``delete_docs`` and one pass over the query mix, then
    ``compact_index`` and one pass over its output. Every query is
    checked against the oracle as the documents change."""
    n = b.spec.n_docs
    mix = inputs.query_mix(b.seed, MAINT_VOCAB)
    corpus_path = os.path.join(b.work, "maint-corpus")
    path = os.path.join(b.work, "maint-index")
    rng = np.random.default_rng(b.seed + 1)
    written = []

    def query_pass(index, name):
        got = []
        for qi, q in enumerate(mix):
            hits, call = b.timed(name, lambda: run_query(index, q), name)
            got.append((call, qi, hits))
        with b.trace.span("bench.check"):
            check(corpus, mix, got)

    with b.trace.span("bench.maintain", "maintain"):
        b.timed("webcorpus.generate_corpus_small", lambda: inputs.write_corpus(
            b.spark, n, b.seed, MAINT_VOCAB, corpus_path))
        b.timed("indexing.build_index_small", lambda: sa.build_index(
            b.spark, b.spark.read.parquet(corpus_path), path,
            doc_id_col="doc_id"))
        idx = _open(b, path, "maintain")
        corpus = oracle.Corpus(inputs.read_texts(corpus_path))
        for rnd in range(MAINT_ROUNDS):
            req = f"round-{rnd}"
            live = np.fromiter(corpus.tokens, dtype=np.int64)
            upd, texts, dele = inputs.maintenance_batch(
                rng, live, n // 45, n // 90, MAINT_VOCAB)
            frame = b.spark.createDataFrame(
                pd.DataFrame({"doc_id": upd, "text": texts}))
            before = tree_bytes(path)[0]
            b.timed("index.update_docs", lambda: idx.update_docs(frame), req)
            written.append(tree_bytes(path)[0] - before)
            b.timed("index.delete_docs",
                    lambda: idx.delete_docs(dele.tolist()), req)
            for d, t in zip(upd.tolist(), texts):
                corpus.put(d, t)
            for d in dele.tolist():
                corpus.remove(d)
            query_pass(idx, "index.query_after_update")
        compacted, _ = b.timed("merge.compact_index", lambda: sa.compact_index(
            b.spark, path, os.path.join(b.work, "maint-compacted")),
            "compact", cpu=True)
        if compacted is not None:
            query_pass(compacted, "index.query_after_compact")
    return {"storage.bytes_written_per_update": median(written)}


# --- traced extras ----------------------------------------------------

def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def traced_extras(b: Bench, served: Served, mix) -> Dict[str, float]:
    """Resumable build and isolated kernel timings (traced runs only)."""
    out = {}
    with b.trace.span("bench.extras", "extras"):
        ckpt_path = os.path.join(b.work, "index-ckpt")
        _, call = b.timed("indexing.build_index_ckpt", lambda: sa.build_index(
            b.spark, b.spark.read.parquet(served.corpus_path), ckpt_path,
            doc_id_col="doc_id", checkpoint_groups=4), "extras")
        out["indexing.build_index_ckpt.s"] = call.seconds
        out["indexing.build_index_ckpt.docs_per_s"] = \
            b.spec.n_docs / call.seconds
        shutil.rmtree(ckpt_path, ignore_errors=True)

        texts = [served.texts[d] for d in sorted(served.texts)][:1 << 16]
        with b.trace.span("tokenizers.ws_tokenizer"):
            toks = [tokenizers.ws_tokenizer(t) for t in texts]
            n_tok = sum(map(len, toks))
            t = _median_time(lambda: [tokenizers.ws_tokenizer(x) for x in texts], 3)
        out["tokenizers.ws_tokenizer.mtokens_per_s"] = n_tok / t / 1e6
        with b.trace.span("kernels.encode_multi"):
            codes: Dict[str, int] = {}
            term = np.fromiter((codes.setdefault(w, len(codes))
                                for ts in toks for w in ts), dtype=np.int64,
                               count=n_tok)
            lens = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
            doc = np.repeat(np.arange(len(toks), dtype=np.int64), lens)
            starts = np.repeat(np.cumsum(lens) - lens, lens)
            posn = np.arange(n_tok, dtype=np.int64) - starts
            t = _median_time(lambda: kernels.encode_multi(term, doc, posn), 3)
        out["kernels.encode_multi.ns_per_posting"] = t / n_tok * 1e9

        pair = next(q.tokens[0] for q in mix if q.shape == "phrase2")
        tbl = pq.read_table(os.path.join(served.path, "postings"),
                            columns=["term", "postings"],
                            filters=[("term", "in", list(pair)),
                                     ("block_id", "=", 0)]).to_pydict()
        arrs = dict(zip(tbl["term"], tbl["postings"]))
        enc = [kernels.from_bytes(arrs[w]) for w in pair]
        with b.trace.span("kernels.phrase_freqs"):
            out["kernels.phrase_freqs.ms"] = 1e3 * _median_time(
                lambda: kernels.phrase_freqs([e.copy() for e in enc]), 5)
        with b.trace.span("spans.span_freqs"):
            out["spans.span_freqs.ms"] = 1e3 * _median_time(
                lambda: spans.span_freqs([e.copy() for e in enc], 2), 5)
        with b.trace.span("similarity.bm25_similarity"):
            n = b.spec.n_docs
            rng = np.random.default_rng(b.seed)
            tf = rng.integers(1, 5, n).astype(np.float32)
            dl = rng.integers(10, 110, n).astype(np.float32)
            sim = bm25_similarity()
            t = _median_time(lambda: [sim(tf, [n // 10], dl, 60.0, n)
                                  for _ in range(20)], 5)
        out["similarity.bm25_similarity.ns_per_doc"] = t / 20 / n * 1e9
    return out


# --- metrics ------------------------------------------------------------

def _p50_ms(calls: List[Call]) -> float:
    return 1e3 * median([c.seconds for c in calls]) if calls else 0.0


def run(b: Bench, session_s: float, wall_start: float) -> dict:
    spec = b.spec
    mix = inputs.query_mix(b.seed, spec.vocab)
    served = setup(b, mix)
    text_bytes = sum(len(t.encode()) for t in served.texts.values())
    index_bytes = tree_bytes(served.path)[0]
    storage = {k: tree_bytes(os.path.join(served.path, k))
               for k in ("postings", "doclens", "term_stats")}

    loop = serve_loop(b, served.idx, mix)
    with b.trace.span("bench.check"):
        check(oracle.Corpus(served.texts), mix, loop.queries)
    extras = {}
    if b.trace.enabled and spec.extras:
        extras = traced_extras(b, served, mix)
        extras.update(maintain(b))
    wall = time.perf_counter() - wall_start

    b.calls.settle()
    by_name: Dict[str, List[Call]] = defaultdict(list)
    totals = defaultdict(int)
    counts = {}
    for c in b.log:
        by_name[c.name].append(c)
        counts[c.group] = b.calls.counts(c.group)
        for k, v in counts[c.group].items():
            totals[k] += v
    # route check: zero jobs per query on the local route, some on the
    # distributed route
    for call, _qi, _h in loop.queries:
        jobs = counts[call.group]["jobs"]
        if (spec.route == "local" and jobs) or \
                (spec.route == "distributed" and not jobs):
            call.ok = False

    lat = [c.seconds * 1e3 for c, _qi, _h in loop.queries]
    failed = sum(1 for c in b.log if not c.ok)
    if not b.trace.enabled:
        metrics = {
            # the session (JVM start, Python worker prewarm) is set-up a
            # user pays once; it cannot be repeated within a run
            "setup_s": session_s + median(served.setup_s),
            "build_docs_per_s": spec.n_docs / median(served.build_s),
            "index_bytes_per_text_byte": index_bytes / text_bytes,
            "query_p50_ms": percentile(lat, 50),
            "query_p90_ms": percentile(lat, 90),
            "query_qps": len(lat) / loop.seconds,
            "peak_rss_mb": b.sampler.peak_total / 2 ** 20,
        }
        units = E2E_UNITS
    else:
        metrics = _per_layer(b, by_name, counts, totals, storage, loop, lat,
                             extras, session_s, wall, failed)
        units = {n: u for n, u, _ in PER_LAYER}
    return {"correct": failed == 0, "attempted": len(b.log),
            "failed": failed,
            "metrics": {k: {"value": v if isinstance(v, int) else float(v),
                            "unit": units[k]}
                        for k, v in metrics.items()}}


def _per_layer(b, by_name, counts, totals, storage, loop, lat, extras,
               session_s, wall, failed) -> dict:
    m = dict.fromkeys((n for n, _u, _b in PER_LAYER), 0.0)
    m.update(extras)
    m["spark.session_start_s"] = session_s

    def calls(name):
        return by_name.get(name, [])

    def max_jobs(name):
        return max((counts[c.group]["jobs"] for c in calls(name)), default=0)

    m["webcorpus.generate_corpus.s"] = _p50_ms(calls("webcorpus.generate_corpus")) / 1e3
    builds = calls("indexing.build_index")
    m["indexing.build_index.s"] = _p50_ms(builds) / 1e3
    m["indexing.build_index.cpu_s"] = median([c.cpu_s for c in builds])
    m["indexing.build_index.spark_jobs"] = max_jobs("indexing.build_index")
    m["indexing.build_index.spark_tasks"] = median(
        [counts[c.group]["tasks"] for c in builds])
    m["index.SearchIndex.open_ms"] = _p50_ms(calls("index.SearchIndex.open"))
    m["index.cache_s"] = _p50_ms(calls("index.cache")) / 1e3
    for q in QUERY_LAYERS:
        m[f"{q}.p50_ms"] = _p50_ms(calls(q))
        m[f"{q}.spark_jobs"] = max_jobs(q)
    m["index.update_docs.ms"] = _p50_ms(calls("index.update_docs"))
    m["index.update_docs.spark_jobs"] = max_jobs("index.update_docs")
    m["index.delete_docs.ms"] = _p50_ms(calls("index.delete_docs"))
    for q in ("index.query_after_update", "index.query_after_compact"):
        m[f"{q}.p50_ms"] = _p50_ms(calls(q))
    compact = calls("merge.compact_index")
    if compact:
        m["merge.compact_index.s"] = compact[0].seconds
        m["merge.compact_index.cpu_s"] = compact[0].cpu_s
        m["merge.compact_index.spark_tasks"] = counts[compact[0].group]["tasks"]
    for k in ("postings", "doclens", "term_stats"):
        m[f"storage.{k}_bytes"] = storage[k][0]
    m["storage.postings_files"] = storage["postings"][1]
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = totals[k]
    cpu = b.sampler.cpu_seconds()
    for k in KINDS:
        m[f"cpu.{k}_s"] = cpu[k]
        m[f"mem.{k}_peak_mb"] = b.sampler.peak_rss[k] / 2 ** 20
    m["query.p50_ms"] = percentile(lat, 50)  # minus query_p50_ms: overhead
    m["query.samples"] = len(lat)
    m["query.tail_pct"] = tail_percentile(len(lat))
    m["query.tail_ms"] = percentile(lat, m["query.tail_pct"])
    m["op_fail_frac"] = failed / len(b.log)
    m["trace.top_level_share"] = b.trace.top_level_seconds() / wall
    if abs(m["trace.top_level_share"] - 1) > 0.1:
        print(f"perfbench: top-level spans cover "
              f"{m['trace.top_level_share']:.0%} of the wall time",
              file=sys.stderr)
    for name, s in b.trace.self_seconds().items():
        mod = name.split(".", 1)[0]
        m[f"{mod}.self_s"] += s
    return m
