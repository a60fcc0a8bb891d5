"""Structured Streaming ingestion into the index (segment model).

The reference is batch-only; its closest analogue is incremental batch
concat (PosnBitArray.concat, middle_out.py:366-378). Here the Spark
engine does it natively: a streaming source feeds ``foreachBatch``;
each micro-batch builds an independent index SEGMENT (the same build
pipeline, checkpointed by Structured Streaming's own offset tracking),
and segments merge into a serving index via ``merge_indexes`` — the
classic Lucene-style segment architecture, distributed.

Doc ids must be globally unique and non-overlapping across batches
(e.g. an event id / offset column); segments then own disjoint doc
blocks and merging is pure table union.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from . import fsutil
from .indexing import build_index
from .merge import merge_indexes


def index_stream(
    stream_df: DataFrame,
    index_root: str,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    tokenizer: str = "ws",
    docs_per_block: int = 1 << 18,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
):
    """Start a streaming query that indexes each micro-batch as a segment
    under ``index_root/segments/``. Returns the StreamingQuery.

    With ``available_now=True`` the query drains all currently available
    input and stops (deterministic one-shot ingestion); otherwise it runs
    continuously.
    """
    spark = stream_df.sparkSession
    seg_root = fsutil.join(index_root, "segments")
    checkpoint_dir = checkpoint_dir or fsutil.join(index_root, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int):
        if batch_df.rdd.isEmpty():
            return
        seg_path = fsutil.join(seg_root, f"seg_{batch_id:06d}")
        build_index(batch_df.sparkSession, batch_df, seg_path,
                    text_col=text_col, doc_id_col=doc_id_col,
                    tokenizer=tokenizer, docs_per_block=docs_per_block)

    writer = stream_df.writeStream.foreachBatch(process_batch) \
        .option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_segments(spark: SparkSession, index_root: str):
    """Merge all segments into ``index_root/current`` and return the
    merged SearchIndex."""
    seg_root = fsutil.join(index_root, "segments")
    segs = sorted(
        fsutil.join(seg_root, d) for d in fsutil.listdir(seg_root)
        if fsutil.exists(fsutil.join(seg_root, d, "meta.json")))
    if not segs:
        raise ValueError(f"no complete segments under {seg_root}")
    return merge_indexes(spark, segs, fsutil.join(index_root, "current"))
