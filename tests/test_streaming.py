"""Structured Streaming ingest (streaming/merge.py): new corpus files
landing in a watched directory merge into the index via foreachBatch,
and the merged index equals a from-scratch build over the union —
the streaming re-expression of the reference's incremental add
(reference retriever.py:268-310)."""

import os


from local_search_engine_spark.operators.build import build_index_from
from local_search_engine_spark.streaming.merge import (
    PersistedIndexState,
    merge_index,
    stream_ingest,
)

SCHEMA = "doc_id long, text string"


def mkdocs(spark, lo, hi):
    rows = [(i, f"stream doc {i} shard merge " + "token " * (i % 5 + 1)) for i in range(lo, hi)]
    return spark.createDataFrame(rows, SCHEMA)


def test_stream_merge_equals_rebuild(spark, tmp_path):
    watch = str(tmp_path / "incoming")
    os.makedirs(watch, exist_ok=True)
    ckpt = str(tmp_path / "ckpt")

    state = PersistedIndexState(spark, str(tmp_path / "state"))
    # the base under a batch id the stream never assigns
    state.append_batch(mkdocs(spark, 0, 40), batch_id=-1, text_col="text")

    # two file drops = two micro-batches under availableNow
    mkdocs(spark, 40, 70).write.mode("append").parquet(watch)
    mkdocs(spark, 70, 100).write.mode("append").parquet(watch)

    q = stream_ingest(
        spark, watch, state, SCHEMA, text_col="text", checkpoint_dir=ckpt
    )
    q.awaitTermination(120)

    merged = state.load_index()
    full = build_index_from(mkdocs(spark, 0, 100), text_col="text", cache=False)

    assert merged.n_docs == full.n_docs == 100
    assert merged.avgdl == full.avgdl
    got = {
        (r.term): (r.df, round(r.idf, 12))
        for r in merged.idf.select("term", "df", "idf").collect()
    }
    want = {
        (r.term): (r.df, round(r.idf, 12))
        for r in full.idf.select("term", "df", "idf").collect()
    }
    assert got == want

    # restart with the same checkpoint: no files left -> no double merge
    state2 = PersistedIndexState(spark, str(tmp_path / "state"))
    q2 = stream_ingest(spark, watch, state2, SCHEMA, text_col="text", checkpoint_dir=ckpt)
    q2.awaitTermination(60)
    assert state2.load_index().n_docs == 100


def test_merge_index_avgdl_is_bit_exact(spark):
    """merge_index derives avgdl from the exact integer token total: on
    this split, n_old·avgdl_old + n_new·avgdl_new is 1 ulp off a
    from-scratch build, and the merged avgdl is not."""
    old = build_index_from(mkdocs(spark, 0, 11), text_col="text", cache=False)
    merged = merge_index(old, mkdocs(spark, 11, 65), text_col="text")
    full = build_index_from(mkdocs(spark, 0, 65), text_col="text", cache=False)
    new = build_index_from(mkdocs(spark, 11, 65), text_col="text", cache=False)
    weighted = (old.n_docs * old.avgdl + new.n_docs * new.avgdl) / 65
    assert weighted != full.avgdl  # the split still exposes the rounding
    assert merged.n_docs == full.n_docs == 65
    assert merged.avgdl == full.avgdl


def test_persisted_state_many_batches_bounded(spark, tmp_path):
    """The scale path: 12 batches through PersistedIndexState.

    - loaded idf == from-scratch build over the union (exactness);
    - re-delivered batch ids are no-ops (exactly-once);
    - append cost does not grow with accumulated state: the append plan
      never reads the state dir, and late-batch wall time stays within a
      generous factor of early-batch wall time;
    - the loaded index's plan depth is a flat scan, not an N-deep union.
    """
    import time

    state = PersistedIndexState(spark, str(tmp_path / "state"))
    n_batches, per = 12, 10
    walls = []
    for b in range(n_batches):
        batch = mkdocs(spark, b * per, (b + 1) * per)
        t0 = time.time()
        entry = state.append_batch(batch, batch_id=b, text_col="text")
        walls.append(time.time() - t0)
        assert entry is not None and entry["n_docs"] == per
    # exactly-once: re-delivery is a no-op
    assert state.append_batch(mkdocs(spark, 0, per), batch_id=0, text_col="text") is None

    merged = state.load_index()
    full = build_index_from(mkdocs(spark, 0, n_batches * per), text_col="text", cache=False)
    assert merged.n_docs == full.n_docs == n_batches * per
    assert merged.avgdl == full.avgdl
    got = {
        r.term: (r.df, round(r.idf, 12))
        for r in merged.idf.select("term", "df", "idf").collect()
    }
    want = {
        r.term: (r.df, round(r.idf, 12))
        for r in full.idf.select("term", "df", "idf").collect()
    }
    assert got == want

    # bounded append cost: last-3 average within 3x of first-3 average
    # (same-sized batches; any per-batch state re-aggregation would grow
    # this linearly — 12x state means >> 3x if O(total) work leaked in)
    early = sum(walls[:3]) / 3
    late = sum(walls[-3:]) / 3
    assert late < 3 * early + 0.5, f"append wall grew: early={early:.2f}s late={late:.2f}s"

    # flat lineage: the loaded tf is ONE parquet scan (12 batch dirs, one
    # relation), not a 12-deep union plan
    plan = merged.tf._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1 and "Union" not in plan


def test_persisted_state_compaction(spark, tmp_path):
    """compact() folds the delta dirs into one base batch: the loaded
    index is unchanged, re-delivered old batch ids stay no-ops, appends
    after compaction still work, and the batch-dir count shrinks. The
    deltas read with one recorded schema throughout: the batch column is
    a string before and after compaction, where an inferring read types
    it int until the batch=__base__ directory appears."""
    import os as _os

    from pyspark.sql import types as T

    from local_search_engine_spark.plans.store import read_table

    state_dir = str(tmp_path / "state")
    state = PersistedIndexState(spark, state_dir)
    for b in range(4):
        state.append_batch(mkdocs(spark, b * 10, (b + 1) * 10), b, text_col="text")
    before = {
        r.term: (r.df, round(r.idf, 12))
        for r in state.load_index().idf.select("term", "df", "idf").collect()
    }

    def schemas():
        return {
            sub: (
                read_table(spark, _os.path.join(state_dir, sub)).schema,
                spark.read.parquet(_os.path.join(state_dir, sub)).schema,
            )
            for sub in ("tf", "docs")
        }

    recorded = {}
    for sub, (rec, inferred) in schemas().items():
        assert rec["batch"].dataType == T.StringType()
        assert inferred["batch"].dataType == T.IntegerType()
        assert rec.fields[:-1] == inferred.fields[:-1], sub
        recorded[sub] = rec
    state.compact()
    for sub, (rec, inferred) in schemas().items():
        assert rec == inferred == recorded[sub], sub
    dirs = [d for d in _os.listdir(_os.path.join(state_dir, "tf")) if d.startswith("batch=")]
    assert dirs == ["batch=__base__"]
    after = {
        r.term: (r.df, round(r.idf, 12))
        for r in state.load_index().idf.select("term", "df", "idf").collect()
    }
    assert after == before
    # exactly-once survives compaction
    assert state.append_batch(mkdocs(spark, 0, 10), 0, text_col="text") is None
    # and fresh appends still merge correctly
    state.append_batch(mkdocs(spark, 40, 50), 4, text_col="text")
    merged = state.load_index()
    full = build_index_from(mkdocs(spark, 0, 50), text_col="text", cache=False)
    got = {
        r.term: (r.df, round(r.idf, 12))
        for r in merged.idf.select("term", "df", "idf").collect()
    }
    want = {
        r.term: (r.df, round(r.idf, 12))
        for r in full.idf.select("term", "df", "idf").collect()
    }
    assert got == want


def test_persisted_state_delete_docs(spark, tmp_path):
    """Tombstone deletes: load_index() after delete_docs equals a
    from-scratch build over the surviving docs (n_docs, avgdl, df, idf
    and the epsilon floor all shift); deletes are idempotent; compact()
    physically purges the rows and clears the tombstone log; and the
    postings stage of a persisted build re-encodes ONLY the groups
    whose shards contained deleted docs."""
    import os as _os

    state = PersistedIndexState(spark, str(tmp_path / "state"))
    for b in range(4):
        state.append_batch(mkdocs(spark, b * 10, (b + 1) * 10), b, text_col="text")
    dead = [3, 17, 18]
    assert state.delete_docs(dead) == 3
    assert state.delete_docs([3]) == 3  # idempotent re-delete

    merged = state.load_index()
    survivors = mkdocs(spark, 0, 40).filter(f"doc_id NOT IN ({','.join(map(str, dead))})")
    full = build_index_from(survivors, text_col="text", cache=False)
    assert merged.n_docs == full.n_docs == 37
    assert merged.avgdl == full.avgdl
    got = {
        r.term: (r.df, round(r.idf, 12))
        for r in merged.idf.select("term", "df", "idf").collect()
    }
    want = {
        r.term: (r.df, round(r.idf, 12))
        for r in full.idf.select("term", "df", "idf").collect()
    }
    assert got == want
    assert merged.docs.filter(merged.docs.doc_id.isin(dead)).count() == 0

    # compact physically purges + clears tombstones
    state.compact()
    assert state.tombstones() == []
    raw = spark.read.parquet(_os.path.join(str(tmp_path / "state"), "docs"))
    assert raw.filter(raw.doc_id.isin(dead)).count() == 0
    after = {
        r.term: (r.df, round(r.idf, 12))
        for r in state.load_index().idf.select("term", "df", "idf").collect()
    }
    assert after == got


def test_persisted_build_reencodes_only_deleted_groups(spark, tmp_path):
    """Fingerprint-driven physical maintenance after deletes: rebuild
    into the same index dir over the post-delete corpus — only the
    postings groups whose shards lost docs re-encode."""
    from local_search_engine_spark.plans.checkpoint import (
        Manifest,
        build_persisted_index,
    )

    kw = dict(docs_per_shard=16, block_span=8, n_buckets=8, n_groups=4)
    corpus = mkdocs(spark, 0, 64)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, text_col="text", **kw)
    run1 = {u: v["run_id"] for u, v in Manifest(d).data["units"].items()}
    # delete one doc from shard 1 (doc 17) -> group 1 only
    survivors = corpus.filter("doc_id <> 17")
    man2 = build_persisted_index(spark, survivors, d, text_col="text", **kw)
    run2 = {u: v["run_id"] for u, v in man2.data["units"].items()}
    assert run2["postings/group=1"] != run1["postings/group=1"]
    for g in (0, 2, 3):
        u = f"postings/group={g}"
        assert run2[u] == run1[u], f"{u} re-encoded without a content change"
