"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The smoke tests run every workload end to end on a tiny corpus, so they
take a few minutes (one Spark session per run).
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import oracle, stats, workloads
from perfbench.inputs import Query

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_are_valid_and_match_the_code():
    spec = _spec()
    names = ([w["name"] for w in spec["workloads"]]
             + [m["name"] for m in spec["end_to_end"]]
             + [m["name"] for m in spec["per_layer"]])
    assert [n for n in names if not NAME.match(n)] == []
    assert len(set(names)) == len(names)
    assert all(UNIT.match(m["unit"])
               for m in spec["end_to_end"] + spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        [(n, workloads.E2E_UNITS[n]) for n in workloads.END_TO_END]
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


@pytest.mark.parametrize("n", [11, 20, 37, 100, 512, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    p = stats.tail_percentile(n)
    xs = list(range(n))
    cut = stats.percentile(xs, p)
    assert sum(x > cut for x in xs) >= 10
    # one whole percentile higher would leave fewer than ten beyond
    assert p == 99 or (100 - p - 1) * n / 100 < 10


def test_tail_percentile_sizes():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(10) == 0


def test_oracle_matches_lucene_golden():
    texts = ["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 25
    scores = oracle.Corpus(dict(enumerate(texts))).clause_scores("bar")
    assert scores[0] == pytest.approx(0.37066692, rel=1e-6)
    assert scores[2] == pytest.approx(0.34314218, rel=1e-6)
    assert 1 not in scores and 3 not in scores


def _ranked(scores, k):
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_oracle_rejects_perturbed_score():
    texts = {0: "a b c a", 1: "a a d", 2: "b c a", 3: "d d d", 4: "c a b a",
             5: "b a"}
    corpus = oracle.Corpus(texts)
    for q in (Query("top_k", "term_hot", ("a",)),
              Query("top_k", "phrase2", (("a", "b"),)),
              Query("top_k_pruned", "or3", ("a", "b", "d"))):
        want = (corpus.or_scores(q.tokens) if q.call == "top_k_pruned"
                else corpus.clause_scores(q.tokens[0]))
        got = _ranked(want, 3)
        accepts = oracle.expect(corpus, q)
        assert accepts(got, 3)
        bad = list(got)
        bad[-1] = (bad[-1][0], bad[-1][1] * 1.001)
        assert not accepts(bad, 3)
        assert not accepts(got[:-1], 3)          # one hit missing


def test_oracle_ties_may_swap_at_the_boundary():
    corpus = oracle.Corpus({0: "x y", 1: "x z", 2: "x w", 3: "q"})
    scores = corpus.clause_scores("x")            # three equal scores
    got = [(2, scores[2]), (0, scores[0])]
    assert oracle.check_topk(got, scores, 2)


def test_slop_and_repeated_term_checks():
    corpus = oracle.Corpus({0: "a x x b", 1: "a x x x x b", 2: "a a q",
                            3: "a q a"})
    slop = oracle.expect(corpus, Query("top_k", "slop2", (("a", "b"),), 2))
    assert slop([(0, 1.0)], 10)
    assert not slop([(1, 1.0)], 10)               # window too wide
    same = oracle.expect(corpus, Query("top_k", "phrase_same", (("a", "a"),)))
    assert same([(2, 1.0)], 10)
    assert not same([(3, 1.0)], 10)


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [
    ("serve_small", 0), ("serve_large", 0), ("serve_small", 1)])
def test_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", str(trace), "--docs", "1500"])
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = (workloads.END_TO_END if not trace
            else [n for n, _u, _b in workloads.PER_LAYER])
    assert list(res["metrics"]) == list(want)
    assert all(math.isfinite(v["value"]) for v in res["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "serve_small", "--seed", "1", "--seconds", "1"],
             cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
