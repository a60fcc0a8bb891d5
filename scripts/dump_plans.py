"""Regenerate docs/plans_raw.txt: the physical plans PLANS.md describes.

    python scripts/dump_plans.py
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import functions as F

    from searcharray_spark import build_index
    from searcharray_spark.index import SearchIndex
    from searcharray_spark.session import get_spark

    # the plans shown are the distributed route's: no driver-local
    # shortcut, whatever the index size
    SearchIndex.LOCAL_QUERY_MAX_BYTES = 0
    SearchIndex.LOCAL_QUERY_EXTENDED_MAX_BYTES = 0
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = [("common w1 x", ), ("common w2 common", ), ("w3 common q", ),
            ("rare w3 z", )] * 50
    df = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(docs)], "doc_id long, text string")
    path = "/tmp/plans_idx"
    shutil.rmtree(path, ignore_errors=True)
    idx = build_index(spark, df, path, doc_id_col="doc_id", docs_per_block=32)

    def plan(dfr):
        return dfr._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))

    sections = []
    sections.append(("PLAN 1: postings scan pruned by term (pushdown)",
                     plan(idx.postings.filter(
                         F.col("term").isin(["common", "w3"])))))
    sections.append(("PLAN 2: single-term BM25 (zero shuffle)",
                     plan(idx.score("common"))))
    sections.append(("PLAN 3: phrase scoring, scan-aligned (zero shuffle)",
                     plan(idx.score(["common", "w3"]))))
    sections.append(("PLAN 4: top-k (TakeOrderedAndProject)",
                     plan(idx.top_k("common", k=5))))
    cand = df.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    sections.append(("PLAN 5b: filtered-corpus scoring (candidates join; "
                     "grouped fallback, one exchange of pruned rows)",
                     plan(idx.score("common", candidates=cand))))
    side = SearchIndex(spark, path)
    side.DOCLENS_BROADCAST_MAX_DOCS = 0
    sections.append(("PLAN 5d: side-input doclens (big corpus) — phrase, "
                     "still zero shuffle, no doclens scan/exchange",
                     plan(side.score(["common", "w3"]))))
    or_hits, combined = idx._hits_or([["common"], ["w3"], ["rare"]])
    assert combined
    sections.append(("PLAN 6: multi-term OR with kernel-side combine — "
                     "per-doc sums inside the kernel, top-k straight off "
                     "the scan, NO exchange",
                     plan(or_hits.orderBy(F.desc("score"),
                                          F.asc("doc_id")).limit(5))))
    sections.append(("PLAN 7: batch top-k (top_k_many) scan — the kernel "
                     "keeps each token's top-k over its scan partition, "
                     "NO exchange; the driver collects at most k x "
                     "tokens x partitions rows and ranks them",
                     plan(idx._hits([["common"], ["w3"], ["rare"]],
                                    per_token_topk=5))))

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "docs", "plans_raw.txt")
    with open(out, "w") as fh:
        for title, body in sections:
            fh.write(f"=== {title} ===\n{body}\n\n")
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
