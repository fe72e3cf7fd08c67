"""Compressed posting-list construction (the engine's replacement for
rank_bm25's in-memory dict-of-dicts, built by the reference at
preprocessing.py:513).

Physical layout — designed for 10^12-doc scale:

  * Docs are DOC-RANGE SHARDED: part_id = doc_id // docs_per_shard.
    This is the hot-term skew strategy (north_rule; SURVEY.md §4.2):
    a term like `def` with df ≈ N never lands in one task — its postings
    are split across all shards, so the per-group work in the encode
    stage is bounded by the shard size regardless of df. The shard id is
    a deterministic salt; "merging salted sub-lists" is free because doc
    ranges are disjoint and ordered — the global posting list for a term
    is just its shard blocks read in (part_id, block_id) order.

  * Within a shard, blocks are doc-range aligned (block_id =
    doc_id // block_span) and carry IDF-FREE block-max metadata:
    block_max_tf (max tf in the run) and block_min_dl (min doc_len
    among the run's docs). The WAND upper bound is derived at QUERY
    time as idf⁺ · qtf · (k1+1)·max_tf / (max_tf + k1·(1−b+b·min_dl/
    avgdl)) — a true bound because the BM25 contribution is increasing
    in tf and decreasing in doc_len. Baking the score itself into the
    block would couple every block to the GLOBAL idf / avgdl: one
    appended batch changes N, df and avgdl and silently invalidates
    every block's bound. With doc-local metadata a block
    depends only on its own shard's (doc_id, tf, doc_len), so
    incremental maintenance can skip untouched shards soundly
    (plans/checkpoint.update semantics), at the cost of a marginally
    looser bound (fewer skips, never wrong results).

  * Per-shard doc_len arrays are packed once per shard (int32 binary),
    NOT per posting — query-time scoring looks norms up locally.

  * Both outputs are built by plans/layout.group_in_partitions: the
    postings grouped on (term_bucket, part_id), shard_meta on part_id.

Schema:
  postings:     term, term_bucket, part_id, block_id, n, first_doc_id,
                last_doc_id, doc_ids_vb, tfs_vb, block_max_tf,
                block_min_dl
  shard_meta:   part_id, first_doc_id, n_docs, doc_lens (binary i32)

term_bucket = pmod(h32(term), n_buckets) (portable md5-derived hash,
driver-computable) is the Parquet partition column: a query's `term IN (...)` filter prunes to ≤ |q| buckets at the
file level (partition pruning), then Parquet min/max row-group stats on
the sorted `term` column prune within buckets.
"""

from __future__ import annotations

POSTINGS_SCHEMA = (
    "term string, term_bucket int, part_id long, block_id long, n int, "
    "first_doc_id long, last_doc_id long, doc_ids_vb binary, tfs_vb binary, "
    "block_max_tf int, block_min_dl int"
)
SHARD_META_SCHEMA = "part_id long, first_doc_id long, n_docs int, doc_lens binary"

DEFAULT_DOCS_PER_SHARD = 50_000
DEFAULT_N_BUCKETS = 64


def build_postings(
    index,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    block_span: int | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """index: operators.build.InvertedIndex → (postings DF, shard_meta DF).

    Plan: tf ⋈ doc_len → group_in_partitions on (term_bucket, part_id)
    (one shuffle, one sort, one mapInPandas) → per-group numpy block
    encode. No idf join: block metadata is idf/avgdl-free by design
    (see module docstring), so the encode touches ONLY shard-local
    inputs — which both removes a vocabulary-sized join from the
    build's hot path and makes per-shard incremental re-encoding sound.
    The doc_len join is left to AQE (broadcast when actually small).
    shard_meta is one group_in_partitions on part_id over the docs."""
    from pyspark.sql import functions as F

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..functions.hashing import h32_col
    from ..plans.layout import group_in_partitions

    span = block_span or DEFAULT_BLOCK_SPAN

    # bucket hash is the PORTABLE h32 (md5-derived) — its driver-side
    # twin h32_py lets the query path derive bucket literals for
    # partition pruning without running a Spark job per query
    tf = index.tf.withColumn(
        "part_id", (F.col("doc_id") / F.lit(docs_per_shard)).cast("long")
    ).withColumn("term_bucket", F.pmod(h32_col(F.col("term")), F.lit(n_buckets)).cast("int"))
    joined = tf.join(index.docs.select("doc_id", "doc_len"), "doc_id")

    def encode_group(pdf):
        """One call per (term_bucket, part_id) — NOT per term. Grouping by
        term would mean one pandas frame + Python call per vocabulary
        word (pure fan-out overhead at millions of terms). Instead each
        call gets a whole bucket-shard and encodes every (term, block)
        run with vectorized run-boundary numpy; the only per-output-row
        Python is a bytes slice."""
        import numpy as np
        import pandas as pd

        from ..functions.codec import encode_runs

        pdf, starts, _, cols = encode_runs(pdf, span)
        tfs = pdf["tf"].to_numpy(np.int64)
        dls = pdf["doc_len"].to_numpy(np.int64)
        cols["block_max_tf"] = np.maximum.reduceat(tfs, starts).astype(np.int32)
        cols["block_min_dl"] = np.minimum.reduceat(dls, starts).astype(np.int32)
        return pd.DataFrame(cols)

    postings = group_in_partitions(
        joined, ["term_bucket", "part_id"], encode_group, POSTINGS_SCHEMA
    )

    def pack_group(pdf):
        import numpy as np
        import pandas as pd

        from ..functions.codec import pack_i32

        pdf = pdf.sort_values("doc_id")
        return pd.DataFrame(
            {
                "part_id": pdf["part_id"].iloc[:1].to_numpy(),
                "first_doc_id": pdf["doc_id"].iloc[:1].to_numpy(),
                "n_docs": np.int32(len(pdf)),
                "doc_lens": [pack_i32(pdf["doc_len"].to_numpy(np.int32))],
            }
        )

    shard_meta = group_in_partitions(
        index.docs.select("doc_id", "doc_len").withColumn(
            "part_id", (F.col("doc_id") / F.lit(docs_per_shard)).cast("long")
        ),
        ["part_id"],
        pack_group,
        SHARD_META_SCHEMA,
    )
    return postings, shard_meta
