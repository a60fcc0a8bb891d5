"""Build resumability + physical-plan checks.

- kill-and-resume drill (FIXTURES.md F8 / north_rule): a build killed
  after N checkpoint groups, resumed, must equal a clean build.
- plan checks: the query-term filter must be pushed down to the parquet
  scan of the postings table.
"""
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from searcharray_spark import SearchIndex, build_index

DOCS = [(i, f"w{i % 7} common w{i % 13} tail{i % 97}") for i in range(2000)]


def test_resume_equals_clean_build(spark, tmp_path):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")

    clean = build_index(spark, df, str(tmp_path / "clean"), doc_id_col="doc_id",
                        docs_per_block=128)

    # simulate a killed build: run only groups 0..1 of 4 (crash before 2)
    broken_path = str(tmp_path / "broken")

    class Boom(Exception):
        pass

    # run with checkpoint_groups=4, making the commit helper's marker
    # write raise on group 2 (a kill before that group commits)
    from searcharray_spark import commit

    real_write = commit.write_json

    def exploding_write(path, obj):
        if isinstance(obj, dict) and obj.get("group") == 2:
            raise Boom("simulated crash mid-build")
        return real_write(path, obj)

    commit.write_json = exploding_write
    try:
        with pytest.raises(Boom):
            build_index(spark, df, broken_path, doc_id_col="doc_id",
                        docs_per_block=128, checkpoint_groups=4)
    finally:
        commit.write_json = real_write

    # groups 0,1 committed; 2,3 missing (a .tmp from the crash may remain)
    markers = [m for m in os.listdir(os.path.join(broken_path, "_groups"))
               if m.endswith(".done")]
    assert len(markers) == 2

    resumed = build_index(spark, df, broken_path, doc_id_col="doc_id",
                          docs_per_block=128, checkpoint_groups=4, resume=True)

    assert resumed.num_docs == clean.num_docs
    assert resumed.avg_doc_len == clean.avg_doc_len
    for token in ("common", "w3", ["w1", "common"]):
        a = clean.score_dense(token)
        b = resumed.score_dense(token)
        assert np.array_equal(a, b), token


def test_term_filter_pushdown(spark, tmp_path):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "idx"), doc_id_col="doc_id",
                      docs_per_block=512)
    plan = idx.postings.filter(F.col("term").isin(["common", "w3"])) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan[:2000]


def test_minmax_posn_via_index(spark, tmp_path):
    docs = ["foo bar bar baz " + " ".join(["boz"] * 25) + " foo bar",
            "data2", "data3 bar", "bunny funny wunny"] * 5
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "mm"), doc_id_col="doc_id")
    tf_window = idx.termfreqs_dense(["foo", "bar"], min_posn=0, max_posn=17)
    assert tf_window.tolist() == [1, 0, 0, 0] * 5
    tf_all = idx.termfreqs_dense(["foo", "bar"])
    assert tf_all.tolist() == [2, 0, 0, 0] * 5
    tf_tail = idx.termfreqs_dense(["foo", "bar"], min_posn=18)
    assert tf_tail.tolist() == [1, 0, 0, 0] * 5
    with pytest.raises(Exception):
        idx.termfreqs("foo", min_posn=5).collect()


def test_truncate_long_doc(spark, tmp_path):
    from searcharray_spark.constants import MAX_POSN
    big = "foo bar baz " + " ".join(["dummy"] * 300000) + " blah"
    df = spark.createDataFrame([(0, big), (1, "not match")],
                               "doc_id long, text string")
    with pytest.raises(Exception):
        build_index(spark, df, str(tmp_path / "no_trunc"), doc_id_col="doc_id")
    idx = build_index(spark, df, str(tmp_path / "trunc"), doc_id_col="doc_id",
                      truncate=True)
    tf = idx.termfreqs_dense(["foo", "bar", "baz"])
    assert tf.tolist() == [1, 0]
    dl = idx.doclengths_dense()
    assert dl[0] == MAX_POSN + 1


def test_hot_term_rows_spread_across_files(spark, tmp_path):
    """Skew handling: a hot term's posting rows are pre-aggregated per
    block AND range-partitioned by (term, block_id), so they spread
    across output partitions instead of landing on one reducer (the
    salting-equivalent for the 'the'-at-web-scale problem)."""
    from pyspark.sql import functions as F
    docs = [(i, "the " * 5 + f"w{i % 50}") for i in range(4000)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    idx = build_index(spark, df, str(tmp_path / "skew"), doc_id_col="doc_id",
                      docs_per_block=64, term_partitions=8,
                      max_words_per_row=4)
    files = idx.postings.filter(F.col("term") == "the") \
        .select(F.input_file_name().alias("f")).distinct().count()
    rows = idx.postings.filter(F.col("term") == "the").count()
    assert rows > 32  # one pre-aggregated row per block
    assert files > 1, "hot term collapsed onto a single output partition"
