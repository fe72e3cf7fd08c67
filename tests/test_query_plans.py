"""Plan shape and job count of the interactive query plans, and the
job budget of loading and refreshing a persisted index.

Per-query constants are SQL literals (no LocalTableScan term tables),
WAND's idf broadcast joins after the shard exchange (so it is no child
of the postings map stage), a single phrase query ranks through a
k-heap (no phrase_id window), and a boolean top-k folds its leaf hits
and its BM25 score in one aggregate.
"""

from __future__ import annotations

import re
import uuid

import pytest

from local_search_engine_spark.plans.layout import local_rows

VOCAB = ["table", "scan", "agg", "row", "part", "fast", "slow", "io"]
_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange\s")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _subtrees(plan: str, pattern):
    """The plan-tree text under (and including) every node line
    matching `pattern`."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if not re.search(pattern, line):
            continue
        depth = re.search(r"[A-Za-z*]", line).start()
        j = i + 1
        while j < len(lines) and re.search(r"[A-Za-z*]", lines[j]).start() > depth:
            j += 1
        out.append("\n".join(lines[i:j]))
    return out


def _jobs_during(spark, fn):
    """Run fn() under a fresh job group; (its result, number of jobs)."""
    sc = spark.sparkContext
    group = f"query-plans-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_of(spark, df):
    """Collect df under a fresh job group; (rows, number of jobs)."""
    return _jobs_during(spark, df.collect)


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """Persisted BM25 and positional indexes (their scans carry no
    exchange of their own, so every exchange in a plan is the query's)."""
    import random

    from local_search_engine_spark.operators.positional import (
        build_positional_postings,
        load_positional_postings,
        make_phrase_topk,
        persist_positional_postings,
    )
    from local_search_engine_spark.operators.wand import make_wand_topk
    from local_search_engine_spark.plans.checkpoint import build_persisted_index, load_index
    from local_search_engine_spark.sources.corpus import gen_corpus_spark

    root = tmp_path_factory.mktemp("query_plans")
    build_persisted_index(
        spark, gen_corpus_spark(spark, 60, partitions=4), str(root / "idx"),
        docs_per_shard=16, block_span=8, n_buckets=4, n_groups=1,
    )
    idx, postings, shard_meta, stats = load_index(spark, str(root / "idx"))
    wand = make_wand_topk(
        idx, postings, shard_meta, block_span=stats["block_span"], n_buckets=stats["n_buckets"]
    )
    rng = random.Random(11)
    docs = local_rows(
        spark,
        [(i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 20))))
         for i in range(60)],
        "doc_id long, text string",
    )
    params = {"docs_per_shard": 16, "block_span": 8, "n_buckets": 4}
    persist_positional_postings(build_positional_postings(docs, **params), str(root / "pos"))
    phrases = make_phrase_topk(
        load_positional_postings(spark, str(root / "pos")), block_span=8, n_buckets=4
    )
    return idx, wand, phrases


def test_wand_one_shuffle_and_idf_broadcast_beside_it(spark, indexes):
    _, wand, _ = indexes
    plan = _plan(wand("table merge shard", 5))
    assert len(_SHUFFLE.findall(plan)) == 1, plan
    assert "BroadcastExchange" in plan, plan
    for sub in _subtrees(plan, _SHUFFLE):
        assert "BroadcastExchange" not in sub, plan
    # the batch path: the part_id exchange is the only one beneath the
    # kernel (its per-query rank window adds one on query_id above it)
    plan = _plan(wand.query_set([(0, "table merge", 5), (1, "shard def def", 3)]))
    (kernel,) = _subtrees(plan, r"MapInPandas")
    assert len(_SHUFFLE.findall(kernel)) == 1, plan
    for sub in _subtrees(kernel, _SHUFFLE):
        assert "BroadcastExchange" not in sub, plan


def test_phrase_query_ranks_through_a_k_heap(spark, indexes):
    _, _, phrases = indexes
    for df in (phrases("table scan", 5), phrases.near("table scan", 5, 3)):
        plan = _plan(df)
        assert len(_SHUFFLE.findall(plan)) == 1, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert not re.search(r"windowspecdefinition\(phrase_id", plan), plan


def test_query_constants_join_no_local_table(spark, indexes):
    from local_search_engine_spark.operators import boolquery
    from local_search_engine_spark.operators.query import run_query_set, score_terms

    idx, _, phrases = indexes
    plans = {
        "score_terms": score_terms(idx, {"table": 1, "scan": 2.5}),
        "run_query_set": run_query_set(idx, [(0, "table scan scan", 5), (1, "agg io", 3)]),
        "leaf hits": boolquery._leaf_hits(
            idx, boolquery.parse_query('table AND NOT scan OR fsat~1 OR "agg row"'), phrases,
            counts={"table": 1, "agg": 2.0},
        )[1],
    }
    for name, df in plans.items():
        assert "LocalTableScan" not in _plan(df), (name, _plan(df))


def test_bool_topk_one_aggregate_on_doc_id(spark, indexes):
    from local_search_engine_spark.operators import boolquery

    idx, _, phrases = indexes
    for q in ('"table scan" AND fast AND NOT io', "table^2 OR (agg AND NOT row)", "NOT io"):
        df = boolquery.topk(idx, q, 5, phrase_query=phrases)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        aggs = re.findall(r"Aggregate \[([^\]]*)\]", logical)
        assert len(aggs) == 1 and re.fullmatch(r"doc_id#\d+L?", aggs[0]), (q, logical)


def test_job_counts(spark, indexes):
    _, wand, phrases = indexes
    rows, jobs = _jobs_of(spark, wand("table merge shard", 5))
    assert rows and jobs <= 3, jobs
    for df in (phrases("table scan", 5), phrases.near("table scan", 5, 3)):
        rows, jobs = _jobs_of(spark, df)
        assert rows and jobs <= 2, jobs


def test_load_and_refresh_job_budget(spark, tmp_path):
    """Doc-id assignment runs at most 5 jobs; load_index reads stored
    schemas, so it runs no job; an identical rerun takes the one-scan
    fast path (at most 2 jobs); rebuilding after a one-file content
    edit stays within 28 jobs (the id prelude plus one concurrent wave)
    and re-encodes exactly one postings group."""
    import json
    import os

    from pyspark.sql import functions as F

    from local_search_engine_spark.operators.build import with_doc_ids
    from local_search_engine_spark.plans.checkpoint import build_persisted_index, load_index
    from local_search_engine_spark.sources.corpus import gen_corpus_spark

    def units():
        with open(os.path.join(d, "_manifest.json")) as f:
            return {u: v["run_id"] for u, v in json.load(f)["units"].items()}

    corpus = gen_corpus_spark(spark, 100, partitions=4)
    (_, keys), jobs = _jobs_during(spark, lambda: with_doc_ids(corpus))
    keys.unpersist()
    assert jobs <= 5, jobs
    d = str(tmp_path / "idx")
    layout = dict(docs_per_shard=16, block_span=8, n_buckets=8, n_groups=4)
    build_persisted_index(spark, corpus, d, **layout)
    _, jobs = _jobs_during(spark, lambda: load_index(spark, d))
    assert jobs == 0, jobs
    before = units()
    _, jobs = _jobs_during(spark, lambda: build_persisted_index(spark, corpus, d, **layout))
    assert jobs <= 2, jobs
    assert units() == before

    path = corpus.first()["path"]
    edited = corpus.withColumn(
        "content",
        F.when(F.col("path") == path, F.concat(F.col("content"), F.lit(" zzzedit")))
        .otherwise(F.col("content")),
    )
    _, jobs = _jobs_during(spark, lambda: build_persisted_index(spark, edited, d, **layout))
    after = units()
    assert jobs <= 28, jobs
    regrouped = [u for u in after if u.startswith("postings/") and after[u] != before[u]]
    assert len(regrouped) == 1, regrouped
