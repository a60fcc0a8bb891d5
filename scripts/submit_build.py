"""spark-submit entry point: build an index over a corpus table.

Cluster usage (the north-rule deployment shape):

    python scripts/make_pyfiles_zip.py dist/searcharray_spark.zip
    spark-submit --py-files dist/searcharray_spark.zip \
        scripts/submit_build.py \
        --corpus s3://bucket/webpages/ --index /shared/index/ \
        --text-col text --order-col url \
        --docs-per-block 65536 --checkpoint-groups 16 --resume

The index directory must be a filesystem path that the driver and every
executor see (the build pass side-writes doclens files from the
executors and commits with renames); the corpus may be any table Spark
reads.

Sandbox smoke (local master comes from spark-submit/--master):

    spark-submit --master 'local[8]' \
        --py-files /tmp/searcharray_spark.zip scripts/submit_build.py \
        --corpus /root/testdata/sf0.01/documents.parquet \
        --index /tmp/submit_idx --doc-id-col doc_id

The script only uses the SparkSession spark-submit hands it — no
master/memory opinions of its own — so the same file runs on YARN, k8s,
or standalone clusters. Resumability: --checkpoint-groups N runs the one
build pass as N group jobs over contiguous ranges of output files, each
committing a marker under ``_groups/`` and a ``build_group`` record in
``metrics.jsonl``; with --resume a killed build skips the committed
groups, and fails if the build plan (docs per block, file count, group
count, tokenizer, truncate) changed since they were written.
"""
import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--corpus", required=True, help="parquet path/table of docs")
    ap.add_argument("--index", required=True, help="output index directory")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--tokens-col", default=None,
                    help="pre-tokenized array<string> column (skips tokenizer)")
    ap.add_argument("--doc-id-col", default=None)
    ap.add_argument("--order-col", default=None,
                    help="column to order deterministic doc-id assignment by")
    ap.add_argument("--tokenizer", default="ws")
    ap.add_argument("--docs-per-block", type=int, default=1 << 16)
    ap.add_argument("--checkpoint-groups", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--truncate", action="store_true",
                    help="clip docs longer than MAX_POSN instead of raising")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from searcharray_spark import build_index

    spark = SparkSession.builder.appName("searcharray_spark_build").getOrCreate()
    corpus = spark.read.parquet(args.corpus)
    idx = build_index(
        spark, corpus, args.index,
        text_col=args.text_col, tokens_col=args.tokens_col,
        doc_id_col=args.doc_id_col, order_col=args.order_col,
        tokenizer=args.tokenizer, docs_per_block=args.docs_per_block,
        checkpoint_groups=args.checkpoint_groups, resume=args.resume,
        truncate=args.truncate)
    print(json.dumps({"index": args.index, "num_docs": idx.num_docs,
                      "avg_doc_len": idx.avg_doc_len,
                      "build_secs": idx.meta.get("build_secs")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
