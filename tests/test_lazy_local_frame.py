"""The driver-local query path returns _LazyLocalFrame: collect() /
toPandas() / count() are served from the driver-held result with zero
JVM round trips, and must be indistinguishable from the materialized
LocalRelation Spark would have produced. Any other DataFrame use must
transparently materialize and keep working."""
import numpy as np
import pandas as pd
import pytest

from searcharray_spark.index import (
    _LazyLocalFrame, _local_df, _materialize_local_df,
    HITS_SCHEMA, TOPK_SCHEMA, TOPK_MANY_SCHEMA,
)


def _hits_pdf():
    return pd.DataFrame({
        "token_idx": np.array([0, 0, 1], dtype=np.int32),
        "doc_id": np.array([3, 9, 4], dtype=np.int64),
        "tf": np.array([1.0, 2.0, 1.5], dtype=np.float32),
        "score": np.array([0.1, 0.25, 7.125], dtype=np.float32),
    })


def test_collect_matches_materialized(spark):
    pdf = _hits_pdf()
    lazy = _local_df(spark, pdf, HITS_SCHEMA)
    assert isinstance(lazy, _LazyLocalFrame)
    eager = _materialize_local_df(spark, pdf, HITS_SCHEMA)
    lrows, erows = lazy.collect(), eager.collect()
    assert lrows == erows
    # Row metadata parity, not just tuple equality
    assert [r.asDict() for r in lrows] == [r.asDict() for r in erows]
    assert all(type(a) is type(b) for ra, rb in zip(lrows, erows)
               for a, b in zip(ra, rb))


def test_topandas_matches_materialized(spark):
    pdf = pd.DataFrame({
        "doc_id": np.array([1, 2], dtype=np.int64),
        "score": np.array([0.5, 0.75], dtype=np.float32)})
    lazy = _local_df(spark, pdf, TOPK_SCHEMA)
    got = lazy.toPandas()
    want = _materialize_local_df(spark, pdf, TOPK_SCHEMA).toPandas()
    pd.testing.assert_frame_equal(got, want)


def test_schema_columns_count_without_jvm(spark):
    lazy = _local_df(spark, _hits_pdf(), HITS_SCHEMA)
    assert lazy.schema == HITS_SCHEMA
    assert lazy.columns == ["token_idx", "doc_id", "tf", "score"]
    assert lazy.count() == 3
    assert lazy._llf_jdf is None  # none of the above touched the JVM


def test_composition_materializes_and_is_correct(spark):
    lazy = _local_df(spark, _hits_pdf(), HITS_SCHEMA)
    out = lazy.select("doc_id", "tf").filter("tf > 1.0") \
        .orderBy("doc_id").collect()
    assert [(r["doc_id"], r["tf"]) for r in out] == [(4, 1.5), (9, 2.0)]
    assert lazy._llf_jdf is not None  # composition went through the JVM


def test_empty_frame(spark):
    pdf = _hits_pdf().iloc[:0]
    lazy = _local_df(spark, pdf, HITS_SCHEMA)
    assert lazy.collect() == []
    assert lazy.count() == 0
    assert len(lazy.toPandas()) == 0


def test_query_results_identical_lazy_vs_distributed(spark, tmp_path):
    """End-to-end: top_k through the local path (lazy frame) equals the
    same query forced through the distributed plan."""
    import searcharray_spark as sa
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 13} gamma") for i in range(600)],
        "doc_id long, text string")
    idx = sa.build_index(spark, docs, str(tmp_path / "idx"),
                         doc_id_col="doc_id", docs_per_block=64)
    lazy_rows = idx.top_k("w3", k=7).collect()
    idx2 = sa.SearchIndex(spark, str(tmp_path / "idx"))
    # force the distributed plan through the handle's local caps
    idx2.LOCAL_QUERY_MAX_BYTES = idx2.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    dist_rows = idx2.top_k("w3", k=7).collect()
    assert lazy_rows == dist_rows


def test_topk_many_schema_is_lazy(spark):
    pdf = pd.DataFrame({
        "token_idx": np.array([0], dtype=np.int32),
        "doc_id": np.array([5], dtype=np.int64),
        "score": np.array([1.25], dtype=np.float32),
        "rank": np.array([1], dtype=np.int32)})
    lazy = _local_df(spark, pdf, TOPK_MANY_SCHEMA)
    assert isinstance(lazy, _LazyLocalFrame)
    r = lazy.collect()[0]
    assert (r["token_idx"], r["doc_id"], r["score"], r["rank"]) == \
        (0, 5, 1.25, 1)


def test_array_schema_not_lazy(spark):
    from pyspark.sql.types import ArrayType, IntegerType, LongType, \
        StructField, StructType
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("posns", ArrayType(IntegerType()))])
    pdf = pd.DataFrame({"doc_id": np.array([1], dtype=np.int64),
                        "posns": [[0, 2]]})
    df = _local_df(spark, pdf, schema)
    assert not isinstance(df, _LazyLocalFrame)
    assert df.collect()[0]["posns"] == [0, 2]


def test_instance_attributes_cover_pyspark_dataframe(spark):
    """_LazyLocalFrame bypasses DataFrame.__init__ and sets its instance
    attributes by hand. A PySpark version whose DataFrame gains an
    instance attribute fails here, instead of raising deep inside some
    DataFrame method called on a lazy query result."""
    real = set(vars(spark.range(1))) - {"_jdf"}
    lazy = set(vars(_local_df(spark, _hits_pdf(), HITS_SCHEMA)))
    assert real <= lazy, sorted(real - lazy)
