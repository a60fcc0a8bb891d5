"""searcharray_spark — a PySpark-native inverted-index + BM25 engine.

Distributed rebuild of the query/data-processing capabilities of
softwaredoug/searcharray (reference at /root/reference, read-only):
packed posting-list construction over doc-blocked corpus partitions,
term-clustered parquet index tables, block-local query kernels, and
Lucene-identical BM25 scoring.
"""
from .indexing import assign_doc_ids, build_index
from .index import SearchIndex
from .merge import compact_index, merge_indexes
from .rows import Terms
from .session import _install_worker_zip_importer
from .similarity import (
    bm25_impact,
    bm25_legacy_similarity,
    bm25_similarity,
    classic_similarity,
    compute_idf,
)
from .tokenizers import (
    web_tokenizer,
    ws_lowercase_tokenizer,
    ws_punc_tokenizer,
    ws_tokenizer,
)

__all__ = [
    "assign_doc_ids",
    "build_index",
    "SearchIndex",
    "merge_indexes",
    "compact_index",
    "Terms",
    "bm25_similarity",
    "bm25_legacy_similarity",
    "bm25_impact",
    "classic_similarity",
    "compute_idf",
    "ws_tokenizer",
    "ws_lowercase_tokenizer",
    "ws_punc_tokenizer",
    "web_tokenizer",
]

__version__ = "0.1.0"

# no-op outside a Spark Python worker task; see session._StampedZipImporter
_install_worker_zip_importer()
