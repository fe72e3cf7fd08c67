"""PySpark-native full-text code-search engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference repo ``edith2k2/Local_search_engine`` (surveyed in SURVEY.md),
re-expressed Spark-first: inverted-index build (posting-list construction,
delta+varbyte compression, block-max metadata) as DataFrame aggregations,
top-k BM25 (k1=1.2, b=0.75, epsilon=0.25 — rank_bm25 BM25Okapi semantics,
invoked by the reference at preprocessing.py:513) with block-max WAND
pruning, plus the training-data-pipeline operators (dedup, similarity
search, text analysis) a 100 TB corpus pipeline needs.

Package layout (SURVEY.md §7.6):
  sources/    corpus generation + read/write (Iceberg-or-Parquet abstraction)
  functions/  tokenizer, posting codec, text/vector scalar functions
  operators/  index build, BM25 query, dedup, similarity, fusion, temporal
  plans/      checkpoint manifests, lineage + metrics logging
  streaming/  incremental index-merge (batch) + streaming ingest demo
"""

from .session import install_zip_refresh_check

# every Python worker that unpickles an engine kernel imports this
# package first, so the per-task import-cache refresh is cut there too
install_zip_refresh_check()

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BM25_EPSILON = 0.25
