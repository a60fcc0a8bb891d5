"""The one distributed build pass, run as checkpoint groups.

- identity: a one-group build, a four-group build and a four-group
  build killed mid-way and resumed write the same postings, doclens and
  term_stats files (pyarrow tables equal file by file in fid order) and
  the same meta.json (except build_secs);
- a resume under a different build plan fails instead of mixing two
  layouts into one index;
- a layout wider than the exact-placement cap runs as more groups, each
  within the cap, and writes the same files as a narrower-cap build.
"""
import json
import os
import re

import pyarrow.parquet as pq
import pytest

from searcharray_spark import build_index, commit, indexing, partitioning

DOCS = [(i, f"w{i % 7} common w{i % 13} tail{i % 97} " + "the " * (i % 5))
        for i in range(3000)]
DPB = 64  # 47 blocks


class Boom(Exception):
    pass


def _crash_at_marker(monkeypatch, group):
    """Make the marker write of ``group`` raise, as a kill would."""
    real_write = commit.write_json

    def write_json(path, obj):
        if isinstance(obj, dict) and obj.get("group") == group:
            raise Boom(f"killed before group {group} committed")
        return real_write(path, obj)

    monkeypatch.setattr(commit, "write_json", write_json)
    return lambda: monkeypatch.setattr(commit, "write_json", real_write)


def _tables(path):
    """{table: [(file name, pyarrow table)]}; the job uuid Spark puts in
    the names of files it writes is dropped from the name."""
    out = {}
    for sub in ("postings", "doclens", "term_stats"):
        d = os.path.join(path, sub)
        names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
        out[sub] = [(re.sub(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}",
                            "", n), pq.read_table(os.path.join(d, n)))
                    for n in names]
    return out


def _assert_same_files(a, b):
    ta, tb = _tables(a), _tables(b)
    for sub in ta:
        assert [n for n, _ in ta[sub]] == [n for n, _ in tb[sub]], sub
        for (name, x), (_, y) in zip(ta[sub], tb[sub]):
            assert x.equals(y), (sub, name)


def _meta(path):
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    meta.pop("build_secs")
    return meta


def _stages(path):
    with open(os.path.join(path, "metrics.jsonl")) as fh:
        return [json.loads(ln)["stage"] for ln in fh]


@pytest.fixture()
def corpus(spark, monkeypatch):
    # the corpus is small: force the distributed path
    monkeypatch.setattr(indexing, "SMALL_BUILD_MAX_DOCS", 0)
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_group_count_and_resume_give_identical_index(spark, corpus, tmp_path,
                                                     monkeypatch):
    kw = dict(doc_id_col="doc_id", docs_per_block=DPB, term_partitions=6)
    one, four, resumed = (str(tmp_path / n) for n in ("one", "four", "res"))
    build_index(spark, corpus, one, checkpoint_groups=1, **kw)
    build_index(spark, corpus, four, checkpoint_groups=4, **kw)

    restore = _crash_at_marker(monkeypatch, 2)
    with pytest.raises(Boom):
        build_index(spark, corpus, resumed, checkpoint_groups=4, **kw)
    restore()
    assert not os.path.exists(os.path.join(resumed, "meta.json"))
    assert sorted(m for m in os.listdir(os.path.join(resumed, "_groups"))
                  if m.endswith(".done")) == [
        "group_0_of_4.done", "group_1_of_4.done"]
    idx = build_index(spark, corpus, resumed, checkpoint_groups=4,
                      resume=True, **kw)

    for other in (four, resumed):
        _assert_same_files(one, other)
        assert _meta(other) == _meta(one)
        assert not os.path.exists(os.path.join(other, "stage"))
    assert len(_tables(one)["postings"]) == 6
    assert _stages(one) == ["build_group", "finalize"]
    assert _stages(four) == ["build_group"] * 4 + ["finalize"]
    # groups 0-1 before the kill, 2-3 on resume; group 2's first run
    # landed its files but never committed, so it ran again
    assert _stages(resumed) == ["build_group"] * 4 + ["finalize"]
    assert idx.num_docs == len(DOCS)


@pytest.mark.parametrize("change,field", [
    ({"docs_per_block": 2 * DPB}, "docs_per_block"),
    ({"term_partitions": 8}, "term_partitions"),
    ({"checkpoint_groups": 2}, "groups"),
])
def test_resume_under_another_plan_raises(spark, corpus, tmp_path,
                                          monkeypatch, change, field):
    kw = dict(doc_id_col="doc_id", docs_per_block=DPB, term_partitions=6,
              checkpoint_groups=4)
    path = str(tmp_path / "idx")
    restore = _crash_at_marker(monkeypatch, 2)
    with pytest.raises(Boom):
        build_index(spark, corpus, path, **kw)
    restore()
    before = sorted(os.listdir(os.path.join(path, "postings")))
    with pytest.raises(ValueError, match=rf"\b{field}="):
        build_index(spark, corpus, path, resume=True, **{**kw, **change})
    # nothing of the committed groups was touched
    assert sorted(os.listdir(os.path.join(path, "postings"))) == before
    # the same plan still resumes
    idx = build_index(spark, corpus, path, resume=True, **kw)
    assert idx.num_docs == len(DOCS)


def test_wide_layout_runs_more_groups(spark, corpus, tmp_path, monkeypatch):
    kw = dict(doc_id_col="doc_id", docs_per_block=DPB, term_partitions=10)
    narrow_cap = str(tmp_path / "cap4")
    default_cap = str(tmp_path / "default")
    build_index(spark, corpus, default_cap, **kw)
    monkeypatch.setattr(partitioning, "PROBE_MAX_PARTITIONS", 4)
    monkeypatch.setattr(indexing, "PROBE_MAX_PARTITIONS", 4)
    build_index(spark, corpus, narrow_cap, **kw)

    # ceil(10 / 4) = 3 group jobs of 3, 3 and 4 files
    assert sorted(os.listdir(os.path.join(narrow_cap, "_groups"))) == [
        f"group_{g}_of_3.done" for g in range(3)]
    with open(os.path.join(narrow_cap, "metrics.jsonl")) as fh:
        fids = [r["fids"] for r in map(json.loads, fh)
                if r["stage"] == "build_group"]
    assert fids == [[0, 3], [3, 6], [6, 10]]
    _assert_same_files(default_cap, narrow_cap)
    assert _meta(narrow_cap) == _meta(default_cap)
    with pytest.raises(ValueError):
        partitioning.repartition_exact(corpus, corpus["doc_id"], 5)
