"""Resumability (SURVEY.md §5.2 item 6): kill the build after a subset
of postings groups, re-run, assert completed units are skipped (manifest
hits) and the final index is content-identical to a single-shot build —
and that queries over the loaded index stay rank-identical to the oracle.
"""

import json
import os


from local_search_engine_spark.operators.wand import make_wand_topk
from local_search_engine_spark.plans.checkpoint import (
    Manifest,
    build_persisted_index,
    load_index,
)
from local_search_engine_spark.sources.corpus import gen_corpus_spark, query_set

from .oracle import oracle_for_corpus

N_DOCS = 100
KW = dict(docs_per_shard=16, block_span=8, n_buckets=8, n_groups=4)


def _postings_content(spark, d):
    rows = spark.read.parquet(os.path.join(d, "postings")).collect()
    return sorted(
        (
            r["term"],
            r["part_id"],
            r["block_id"],
            r["n"],
            r["first_doc_id"],
            r["last_doc_id"],
            bytes(r["doc_ids_vb"]),
            bytes(r["tfs_vb"]),
            r["block_max_tf"],
            r["block_min_dl"],
        )
        for r in rows
    )


def test_resume_skips_done_and_matches_single_shot(spark, tmp_path):
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)

    single = str(tmp_path / "single")
    build_persisted_index(spark, corpus, single, **KW)

    # simulated kill: only groups 0..1 of 4 complete
    resumed = str(tmp_path / "resumed")
    build_persisted_index(spark, corpus, resumed, only_groups=[0, 1], **KW)
    man_before = Manifest(resumed)
    assert sum(1 for u in man_before.data["units"] if u.startswith("postings/")) == 2

    # resume: earlier stages + groups 0-1 must be manifest hits
    man = build_persisted_index(spark, corpus, resumed, **KW)
    run_ids = {u: v["run_id"] for u, v in man.data["units"].items()}
    first_run = man_before.data["units"]["docs"]["run_id"]
    for unit in ["docs", "tf", "idf", "shard_meta", "postings/group=0", "postings/group=1"]:
        assert run_ids[unit] == first_run, f"{unit} was rebuilt, not skipped"
    assert run_ids["postings/group=2"] != first_run
    assert run_ids["postings/group=3"] != first_run

    assert _postings_content(spark, resumed) == _postings_content(spark, single)

    # metrics JSONL has one line per completed unit
    with open(os.path.join(resumed, "_metrics.jsonl")) as f:
        lines = [json.loads(ln) for ln in f]
    assert {ln["unit"] for ln in lines} == set(run_ids)


def test_incremental_append_skips_untouched_shards(spark, tmp_path):
    """Incremental postings maintenance: after appending docs with NEW
    (tail) doc ids, a rebuild into the same index dir re-encodes ONLY
    the groups whose shards changed — untouched groups are manifest
    hits (posting blocks are idf-free, so appends cannot invalidate
    them) — and WAND top-k over the updated index is identical to a
    full from-scratch rebuild over the union corpus."""
    from pyspark.sql import functions as F

    base = gen_corpus_spark(spark, 64, partitions=8)
    extra = (
        gen_corpus_spark(spark, 80, partitions=8)
        .orderBy("repo", "path", "commit")
        .limit(16)
        # push the appended keys PAST every base key so base doc ids
        # (rank by key) are unchanged — the append-only id contract
        .withColumn("repo", F.concat(F.lit("zzz-append/"), F.col("repo")))
    )
    union = base.unionByName(extra)

    inc = str(tmp_path / "inc")
    build_persisted_index(spark, base, inc, **KW)
    man1 = Manifest(inc)
    run1 = {u: v["run_id"] for u, v in man1.data["units"].items()}

    man2 = build_persisted_index(spark, union, inc, **KW)
    run2 = {u: v["run_id"] for u, v in man2.data["units"].items()}
    # 64 docs / 16 per shard = shards 0..3 (groups 0..3); appended docs
    # 64..79 land in shard 4 -> group 0. Only group 0 may re-encode.
    assert run2["postings/group=0"] != run1["postings/group=0"]
    for g in (1, 2, 3):
        u = f"postings/group={g}"
        assert run2[u] == run1[u], f"{u} was rebuilt despite unchanged shards"
    # global side tables must rebuild (idf/stats change with N)
    assert run2["idf"] != run1["idf"]

    full = str(tmp_path / "full")
    build_persisted_index(spark, union, full, **KW)
    assert _postings_content(spark, inc) == _postings_content(spark, full)
    for d in (inc, full):
        idx, postings, shard_meta, stats = load_index(spark, d)
        wand = make_wand_topk(idx, postings, shard_meta, block_span=stats["block_span"])
        got = [(r["rank"], r["doc_id"], r["score"]) for r in wand("table merge", 10).collect()]
        if d == inc:
            first = got
        else:
            assert got == first  # incremental == full rebuild, bit-exact


def test_loaded_index_rank_identity(spark, tmp_path):
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, **KW)
    idx, postings, shard_meta, stats = load_index(spark, d)
    wand = make_wand_topk(idx, postings, shard_meta, block_span=stats["block_span"])
    oracle = oracle_for_corpus(N_DOCS)
    for qid, text, k in query_set(N_DOCS)[:8]:
        got = [(r["rank"], r["doc_id"]) for r in wand(text, k).collect()]
        want = [(r, d_) for r, d_, _ in oracle.topk(text, k)]
        assert got == want, (qid, text)


def test_resume_probe_fast_path_and_content_staleness(spark, tmp_path):
    """A completed build certifies itself with a content-inclusive
    fingerprint ('resume_probe'): the next identical invocation returns
    after ONE scan-agg with no new manifest activity. Changing a row's
    CONTENT (same keys) must miss the fast path and re-encode the
    changed shard's group — the no-silent-staleness contract."""
    from pyspark.sql import functions as F

    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, **KW)
    man1 = json.load(open(os.path.join(d, "_manifest.json")))["units"]
    assert "resume_probe" in man1, sorted(man1)
    # identical re-run: fast path — zero units re-marked
    build_persisted_index(spark, corpus, d, **KW)
    man2 = json.load(open(os.path.join(d, "_manifest.json")))["units"]
    assert man2 == man1
    # content-only change (keys identical): fast path must MISS and the
    # affected postings group must be rebuilt with a new fingerprint
    changed = corpus.withColumn(
        "content",
        F.when(F.col("path") == corpus.first()["path"],
               F.concat(F.col("content"), F.lit(" zzznewterm")))
        .otherwise(F.col("content")),
    )
    build_persisted_index(spark, changed, d, **KW)
    man3 = json.load(open(os.path.join(d, "_manifest.json")))["units"]
    assert man3["resume_probe"]["fingerprint"] != man1["resume_probe"]["fingerprint"]
    assert any(
        u.startswith("postings/group=")
        and man3[u]["fingerprint"] != man1[u]["fingerprint"]
        for u in man3
    )
    # the side tables follow the content: the new term is in tf/idf, and
    # docs/tf/idf equal a fresh build of the edited corpus
    idx, _, _, _ = load_index(spark, d)
    assert idx.tf.filter(F.col("term") == "zzznewterm").count() == 1
    assert idx.idf.filter(F.col("term") == "zzznewterm").count() == 1
    fresh = str(tmp_path / "fresh")
    build_persisted_index(spark, changed, fresh, **KW)
    for t in ("docs", "tf", "idf"):
        assert _table(spark, d, t) == _table(spark, fresh, t), t
    assert json.load(open(os.path.join(d, "stats.json"))) == json.load(
        open(os.path.join(fresh, "stats.json"))
    )


def _table(spark, d, name):
    return sorted(map(tuple, spark.read.parquet(os.path.join(d, name)).collect()))


def test_deleted_side_table_is_rebuilt(spark, tmp_path):
    """A MANIFEST entry must not vouch for data that is gone: after tf/
    is deleted, the next build misses the fast path, rebuilds tf, and
    WAND answers stay rank-identical."""
    import shutil

    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, **KW)
    tf_before = _table(spark, d, "tf")

    def answers():
        idx, postings, shard_meta, stats = load_index(spark, d)
        wand = make_wand_topk(idx, postings, shard_meta, block_span=stats["block_span"])
        return [
            [(r["rank"], r["doc_id"], r["score"]) for r in wand(text, k).collect()]
            for _, text, k in query_set(N_DOCS)[:5]
        ]

    want = answers()
    shutil.rmtree(os.path.join(d, "tf"))
    man = build_persisted_index(spark, corpus, d, **KW)
    assert os.path.isdir(os.path.join(d, "tf"))
    assert _table(spark, d, "tf") == tf_before
    assert man.data["units"]["tf"]["run_id"] != man.data["units"]["docs"]["run_id"]
    assert answers() == want
