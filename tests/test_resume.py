"""Resumability (SURVEY.md §5.2 item 6): kill the build after a subset
of postings groups, re-run, assert completed units are skipped (manifest
hits) and the final index is content-identical to a single-shot build —
and that queries over the loaded index stay rank-identical to the oracle.
"""

import json
import os
from pathlib import Path


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
    after ONE scan-agg with no new manifest activity. Every later edit
    misses the fast path, and the refreshed index equals a cold build
    of the edited corpus table for table — the no-silent-staleness
    contract: a content edit (re-encodes the changed shard's group), a
    commit-only edit (docs follow; no postings group re-encodes), an
    insert that shifts every later doc id, and a delete."""
    from pyspark.sql import functions as F

    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, **KW)
    man1 = _units(d)
    assert "resume_probe" in man1, sorted(man1)
    # identical re-run: fast path — zero units re-marked
    build_persisted_index(spark, corpus, d, **KW)
    assert _units(d) == man1

    first = corpus.orderBy("repo", "path", "commit").first()
    edited = corpus.withColumn(
        "content",
        F.when(F.col("path") == first["path"],
               F.concat(F.col("content"), F.lit(" zzznewterm")))
        .otherwise(F.col("content")),
    )
    recommitted = edited.withColumn(
        "commit",
        F.when(F.col("path") == first["path"], F.lit("ffffffff"))
        .otherwise(F.col("commit")),
    )
    # sorts right after the first key, so every later doc id shifts
    row = first.asDict()
    row.update(path=first["path"] + "0", content="inserted zzzinsert table")
    inserted = recommitted.unionByName(spark.createDataFrame([row], corpus.schema))
    deleted = inserted.filter(F.col("path") != first["path"])

    steps = [
        ("content", edited), ("commit", recommitted),
        ("insert", inserted), ("delete", deleted),
    ]
    for i, (name, version) in enumerate(steps):
        before = _units(d)
        build_persisted_index(spark, version, d, **KW)
        after = _units(d)
        assert after["resume_probe"]["fingerprint"] != before["resume_probe"]["fingerprint"], name
        regrouped = [
            u for u in after
            if u.startswith("postings/group=") and after[u]["run_id"] != before[u]["run_id"]
        ]
        if name == "commit":
            assert regrouped == [], regrouped
        else:
            assert regrouped, name
        fresh = str(tmp_path / f"fresh{i}")
        build_persisted_index(spark, version, fresh, **KW)
        for t in ("docs", "tf", "shard_meta"):
            assert _table(spark, d, t) == _table(spark, fresh, t), (name, t)
        assert _postings_content(spark, d) == _postings_content(spark, fresh), name
        assert _idf_bits(spark, d) == _idf_bits(spark, fresh), name
        assert _stats(d) == _stats(fresh), name

    # the side tables follow the content and the keys
    idx, _, _, _ = load_index(spark, d)
    assert idx.tf.filter(F.col("term") == "zzznewterm").count() == 0  # deleted
    assert idx.idf.filter(F.col("term") == "zzzinsert").count() == 1
    assert idx.docs.filter(F.col("commit") == "ffffffff").count() == 0


def _units(d):
    with open(os.path.join(d, "_manifest.json")) as f:
        return json.load(f)["units"]


def _stats(d):
    with open(os.path.join(d, "stats.json")) as f:
        return json.load(f)


def _idf_bits(spark, d):
    return sorted(
        (r["term"], r["df"], r["idf_raw"].hex(), r["idf"].hex())
        for r in spark.read.parquet(os.path.join(d, "idf")).collect()
    )


def _table(spark, d, name):
    return sorted(map(tuple, spark.read.parquet(os.path.join(d, name)).collect()))


def test_build_releases_caches_and_load_reads_stored_schemas(spark, tmp_path):
    """build_persisted_index leaves no persisted RDD behind (the doc-id
    key table, tf and docs are all released), and load_index reads each
    table with a stored schema equal to the one a parquet read infers."""
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    d = str(tmp_path / "idx")
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet())
    build_persisted_index(spark, corpus, d, **KW)
    assert set(jsc.getPersistentRDDs().keySet()) - persisted == set()
    idx, postings, shard_meta, _ = load_index(spark, d)
    tables = {"docs": idx.docs, "tf": idx.tf, "idf": idx.idf,
              "postings": postings, "shard_meta": shard_meta}
    for name, df in tables.items():
        assert df.schema == spark.read.parquet(os.path.join(d, name)).schema, name


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


def test_index_of_an_older_format_is_rebuilt(spark, tmp_path):
    """An index written before its tables were store tables (no
    _schema.json sidecars, no format tag in its fingerprints) misses the
    fast path and every unit, is rebuilt, and then loads."""
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, **KW)
    path = os.path.join(d, "_manifest.json")
    with open(path) as f:
        man = json.load(f)
    for u in man["units"].values():
        u["fingerprint"] = u["fingerprint"].replace(";format=3", "")
    with open(path, "w") as f:
        json.dump(man, f)
    for name in ("docs", "tf", "idf", "shard_meta", "postings"):
        os.remove(os.path.join(d, name, "_schema.json"))

    rebuilt = build_persisted_index(spark, corpus, d, **KW).data["units"]
    assert {u: v["run_id"] for u, v in rebuilt.items()} == {
        u: rebuilt["docs"]["run_id"] for u in rebuilt
    }
    assert set(rebuilt) == set(man["units"])
    idx, _, _, _ = load_index(spark, d)
    assert idx.docs.count() == N_DOCS


def test_docs_table_bytes_do_not_follow_the_join_strategy(spark, tmp_path):
    """The docs/ table is written byte for byte the same whether the
    planner may broadcast the doc-length join or not."""
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=4)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)

    def docs_parts(d):
        # (part number, bytes); the rest of a part's name is per write
        return [(f.name.split("-")[1], f.read_bytes()) for f in sorted(Path(d, "docs").glob("part-*"))]

    parts = []
    try:
        for threshold in (saved, "-1"):
            spark.conf.set(key, threshold)
            d = str(tmp_path / f"idx{len(parts)}")
            build_persisted_index(spark, corpus, d, **KW)
            parts.append(docs_parts(d))
    finally:
        spark.conf.set(key, saved)
    assert parts[0] and parts[0] == parts[1], [[(p, len(b)) for p, b in ps] for ps in parts]


def _plans_during(spark, fn):
    """Run fn() under a fresh job group; the physical plan of every SQL
    execution that ran one of its jobs."""
    import uuid

    sc = spark.sparkContext
    group = f"resume-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]


def test_uncertified_complete_build_reruns_without_the_tf_kernel(spark, tmp_path):
    """A build of every group through only_groups completes the index
    but never marks resume_probe. The full rerun finds every unit
    current from the tokenize-free id projection: it marks resume_probe
    and nothing else, and none of its jobs runs the tf kernel (a
    MapInPandas plan; the corpus is local rows, not the generator's
    own MapInPandas)."""
    from local_search_engine_spark.sources.corpus import CORPUS_SCHEMA

    corpus = spark.createDataFrame(gen_corpus_spark(spark, N_DOCS).collect(), CORPUS_SCHEMA)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, only_groups=list(range(KW["n_groups"])), **KW)
    before = _units(d)
    assert "resume_probe" not in before, sorted(before)

    plans = _plans_during(spark, lambda: build_persisted_index(spark, corpus, d, **KW))
    after = _units(d)
    assert sorted(u for u in after if after[u] != before.get(u)) == ["resume_probe"]
    assert plans and not [p for p in plans if "MapInPandas" in p], plans


def test_duplicate_corpus_keys_raise(spark, tmp_path):
    """Two corpus rows under one (repo, path, commit) key would share
    their doc ids and fan out in the id join; both builders raise
    instead of indexing them, and release their caches."""
    import pytest

    from local_search_engine_spark.operators.build import build_index
    from local_search_engine_spark.sources.corpus import CORPUS_SCHEMA

    corpus = spark.createDataFrame(
        [
            ("r", "a.py", "c1", "python", "def alpha"),
            ("r", "a.py", "c1", "python", "def beta"),
            ("r", "b.py", "c1", "python", "def gamma"),
        ],
        CORPUS_SCHEMA,
    )
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="duplicate corpus keys: 3 .* 5 docs"):
        build_index(corpus)
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="duplicate corpus keys: 3 .* 5 docs"):
        build_persisted_index(spark, corpus, d, **KW)
    assert set(jsc.getPersistentRDDs().keySet()) - persisted == set()
    assert "resume_probe" not in _units(d)
