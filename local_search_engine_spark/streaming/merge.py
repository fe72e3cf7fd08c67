"""Incremental index maintenance: the reference's corpus append
(reference retriever.py:268-310, ui.py:214-225 — extend the in-memory
corpus dict and chunk-id space) re-expressed as batch index-merge
algebra, plus a Structured Streaming ingest wrapper.

The index state that must merge is two tables over disjoint doc
ranges, each a plain union:
  tf     (doc_id, term, tf)
  docs   (doc_id, ..., doc_len)
n_docs, avgdl, df and idf are DERIVED (the epsilon floor needs the
global mean of raw idf), by the same build.assemble_index a
from-scratch build runs — one docs aggregate plus vocabulary-sized idf
work, with exact sums — so the result is IDENTICAL to a from-scratch
build over the union corpus (tests/test_streaming.py asserts this).

Two shapes live here:

  * merge_index — in-memory DataFrame merge of TWO indexes (one-shot
    batch append; the index_merge_incremental gate). Fine for a single
    merge; do NOT loop it — N merges build an N-deep union lineage.
  * PersistedIndexState — the SCALE path for continuous ingest: each
    batch appends O(batch) parquet (tf + docs deltas under
    batch=<id>/ dirs, idempotent per batch id, so re-delivered batches
    are exactly-once), NOTHING global is recomputed per batch, and any
    later read is a flat parquet scan — plan depth is CONSTANT in the
    number of batches. df/idf/avgdl are derived once at load_index()
    time (vocabulary-scale work). On Iceberg the appends become table
    appends and load-time df becomes MERGE-maintained; the layout here
    is the plain-parquet equivalent.
"""

from __future__ import annotations

import os

from ..operators.build import (
    BM25Params,
    InvertedIndex,
    assemble_index,
    index_tables,
    term_frequencies,
    with_doc_lens,
)
from ..plans.store import committed, read_json, read_table, swap_dir, write_json, write_table


def merge_tf(tf_old, tf_new):
    """Union of tf tables. Doc ranges are disjoint by construction
    (appended docs get new ids); the (doc_id, term) groupBy keeps the
    max tf, so a re-delivered batch, whose rows equal the ones already
    merged, leaves every tf as it was (a sum would double it)."""
    from pyspark.sql import functions as F

    return (
        tf_old.unionByName(tf_new)
        .groupBy("doc_id", "term")
        .agg(F.max("tf").alias("tf"))
    )


def merge_index(old: InvertedIndex, new_docs_with_id, text_col: str = "content") -> InvertedIndex:
    """Merge an already-built index with a batch of NEW docs (unique new
    doc_ids) → a full InvertedIndex equal to a from-scratch build over
    the union. Only the new docs are tokenized; n_docs, avgdl and
    df/idf are derived from the merged tables (assemble_index)."""
    tf, docs = index_tables(new_docs_with_id, text_col=text_col, cache=False)
    return assemble_index(
        old.docs.unionByName(docs, allowMissingColumns=True),
        merge_tf(old.tf, tf),
        old.params,
    )


class PersistedIndexState:
    """Parquet-backed incremental index state with bounded lineage.

    Layout under state_dir/:
      tf/batch=<id>/    (doc_id, term, tf) rows for that batch only
      docs/batch=<id>/  (doc_id, doc_len) rows for that batch only
      _batches.json     {batch_id: {"n_docs": .., "rows": ..}} commit log
      _tombstones.json  logically deleted doc_ids

    tf/ and docs/ are store tables (plans/store.py): the batch directory
    column reads back as a string, before and after compact() writes its
    batch=__base__ directory.

    append_batch(docs) tokenizes ONLY the batch and writes its deltas —
    per-batch cost is O(batch), independent of how much state exists
    (the append plan never reads prior state). The per-batch-dir
    overwrite + commit-log check makes re-delivered batch ids exactly-
    once. load_index() is one flat parquet scan over all deltas plus the
    vocabulary-scale df/idf derivation — identical output to a
    from-scratch build over the union corpus. Doc-id uniqueness across
    batches is the caller's contract (appended docs get new ids), same
    as merge_index.
    """

    def __init__(self, spark, state_dir: str, params: BM25Params | None = None):
        self.spark = spark
        self.dir = state_dir
        self.params = params or BM25Params()
        self._log_path = os.path.join(state_dir, "_batches.json")
        self._tomb_path = os.path.join(state_dir, "_tombstones.json")
        os.makedirs(state_dir, exist_ok=True)
        self._log: dict[str, dict] = read_json(self._log_path, {})

    def committed(self, batch_id: int) -> bool:
        return str(batch_id) in self._log

    def append_batch(self, docs_with_id, batch_id: int, text_col: str = "content"):
        """Tokenize + write this batch's tf/docs deltas. Idempotent per
        batch_id; returns the commit-log entry (None if already done)."""
        if self.committed(batch_id):
            return None
        part = ("batch", str(batch_id))
        tf = term_frequencies(docs_with_id, text_col=text_col).cache()
        n_rows = write_table(tf, os.path.join(self.dir, "tf"), part=part)
        docs = with_doc_lens(docs_with_id.select("doc_id"), tf)
        n_docs = write_table(docs, os.path.join(self.dir, "docs"), part=part)
        tf.unpersist()
        entry = {"rows": n_rows, "n_docs": n_docs}
        self._log[str(batch_id)] = entry
        write_json(self._log_path, self._log)
        return entry

    def compact(self) -> dict:
        """Rewrite all accumulated tf/docs deltas into one base batch dir
        and drop the per-batch dirs — bounds the small-file count after
        long ingest runs (the parquet equivalent of an Iceberg rewrite).
        The commit log keeps EVERY batch id it has seen, so re-delivered
        batches stay no-ops after compaction. Safe to re-run: the new
        base is staged beside the live table and swapped in
        (plans/store.swap_dir), so the live tree never holds it twice."""
        from pyspark.sql import functions as F

        stats = {}
        dead = self.tombstones()
        for sub in ("tf", "docs"):
            live = os.path.join(self.dir, sub)
            if not committed(live):
                continue
            stage = os.path.join(self.dir, f"_compact_{sub}")
            df = read_table(self.spark, live).drop("batch")
            if dead:
                # the rewrite is the natural purge point: tombstoned
                # rows leave the physical layout here
                df = df.filter(~F.col("doc_id").isin(dead))
            stats[sub] = write_table(df, stage, part=("batch", "__base__"))
            swap_dir(stage, live)
        self._log["__compacted__"] = {"rows": stats.get("tf", 0)}
        write_json(self._log_path, self._log)
        if dead:
            # physically purged above — clear the tombstone log (crash
            # between the swap and this point only leaves a redundant
            # logical filter, never resurrected rows)
            write_json(self._tomb_path, [])
        return stats

    def delete_docs(self, doc_ids) -> int:
        """Logical delete (the GDPR/right-to-be-forgotten path): append
        the ids to a tombstone log. O(|delete|) — NOTHING existing is
        rewritten; load_index() applies tombstones exactly (broadcast
        anti-join of a user-sized id set), and the next
        build_persisted_index re-encodes precisely the postings groups
        whose shards contained deleted docs (their per-group content
        fingerprints change) while untouched groups stay manifest hits.
        Idempotent: re-deleting an id is a no-op. Returns the total
        tombstone count."""
        merged = sorted(set(self.tombstones()) | {int(i) for i in doc_ids})
        write_json(self._tomb_path, merged)
        return len(merged)

    def tombstones(self) -> list[int]:
        return read_json(self._tomb_path, [])

    def load_index(self) -> InvertedIndex:
        """Flat-scan the accumulated deltas → full InvertedIndex. Plan
        depth is constant in batch count; df/idf/avgdl derived once.
        Tombstoned docs are excluded EXACTLY: docs/tf filtered before
        the stats/idf derivation, so n_docs, avgdl, df and the epsilon
        floor all reflect the post-delete corpus — identical to a
        from-scratch build over the surviving docs (test-pinned)."""
        from pyspark.sql import functions as F

        tf = read_table(self.spark, os.path.join(self.dir, "tf"))
        docs = read_table(self.spark, os.path.join(self.dir, "docs"))
        dead = self.tombstones()
        if dead:
            # tombstone sets are user-sized; isin compiles to an
            # in-filter pushed to the scan, no join or shuffle
            tf = tf.filter(~F.col("doc_id").isin(dead))
            docs = docs.filter(~F.col("doc_id").isin(dead))
        return assemble_index(docs, tf, self.params)


def stream_ingest(
    spark,
    source_dir: str,
    index_state,
    schema: str,
    id_offset_col: str = "doc_id",
    text_col: str = "content",
    checkpoint_dir: str | None = None,
):
    """Structured Streaming ingest: watch source_dir for new corpus
    files; each micro-batch lands in the index via foreachBatch (the
    standard pattern for stateful sinks Spark doesn't ship).

    index_state is a PersistedIndexState: each batch appends its
    O(batch) delta, exactly-once via the per-batch commit log on top of
    the streaming checkpoint. Returns the StreamingQuery (caller
    awaits/stops it).
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def on_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        index_state.append_batch(batch_df, batch_id, text_col=text_col)

    writer = stream.writeStream.foreachBatch(on_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
