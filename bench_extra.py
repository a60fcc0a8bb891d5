"""Extra micro-benchmarks for the optimization rounds (bench.py is
FROZEN for driver measurement; everything exploratory lives here).

Isolates the fused index build's cost components with the noop sink
(spark_optimization_guide.md §1.4) so the computation is timed without
the output write, plus the write itself, plus the driver-local query
kernels. Prints one JSON line per experiment.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0),
     SPARK_GRAFT_CPUS   (default 32).
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from searcharray_spark import indexing, tokenizers  # noqa: E402
from searcharray_spark.partitioning import repartition_exact  # noqa: E402
from searcharray_spark.session import get_spark  # noqa: E402


def best_of(fn, n=3):
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(f"bench_extra_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    docs.limit(1).toPandas()

    docs_per_block = 1 << 12
    n_blocks = (n_docs + docs_per_block - 1) // docs_per_block
    T = max(8, cpus)
    df = docs.select(F.col("doc_id").cast("long"), F.col("text")) \
        .withColumn("block_id", F.floor(F.col("doc_id") / F.lit(docs_per_block)))
    fid = F.floor(F.col("block_id") * F.lit(T) / F.lit(max(n_blocks, 1)))
    dfp = repartition_exact(df, fid, T)
    builder = indexing._make_block_builder(
        tokenizers.resolve("ws"), docs_per_block, False)
    dl_dir = "/tmp/bench_extra_dl"
    os.makedirs(dl_dir, exist_ok=True)
    kernel = indexing._make_partition_kernel(builder, doclens_dir=dl_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    res = {"sf_dir": sf_dir, "cpus": cpus, "n_docs": n_docs}

    def noop(d):
        return lambda: d.write.format("noop").mode("overwrite").save()

    spark.sparkContext.setJobDescription("iso: scan only")
    res["scan_noop"] = best_of(noop(df))
    spark.sparkContext.setJobDescription("iso: scan+exchange")
    res["exchange_noop"] = best_of(noop(dfp))
    spark.sparkContext.setJobDescription("iso: scan+exchange+kernel")
    res["kernel_noop"] = best_of(
        noop(dfp.mapInPandas(kernel, indexing.POSTINGS_SCHEMA)))

    def full_write():
        dfp.mapInPandas(kernel, indexing.POSTINGS_SCHEMA) \
            .write.mode("overwrite") \
            .option("parquet.block.size",
                    str(indexing.PARQUET_ROW_GROUP_BYTES)) \
            .parquet("/tmp/bench_extra_posts")

    spark.sparkContext.setJobDescription("iso: full fused pass")
    res["fused_pass_parquet"] = best_of(full_write)

    # driver-local query kernels on a freshly built index
    idx_path = "/tmp/bench_extra_idx"
    shutil.rmtree(idx_path, ignore_errors=True)
    from searcharray_spark import build_index
    t0 = time.time()
    idx = build_index(spark, docs, idx_path, doc_id_col="doc_id",
                      tokenizer="ws", docs_per_block=docs_per_block,
                      term_partitions=T)
    res["build_total"] = round(time.time() - t0, 3)
    idx.cache()
    for name, fn in [
        ("q_term", lambda: idx.top_k("spark", k=10).collect()),
        ("q_phrase2", lambda: idx.top_k(["table", "hash"], k=10).collect()),
        ("q_slop2", lambda: idx.top_k(["table", "hash"], k=10,
                                      slop=2).collect()),
        ("q_or", lambda: idx.top_k_pruned(["spark", "query", "join"],
                                          k=10).collect()),
    ]:
        fn()
        res[name] = best_of(fn, 5)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
