"""Fusion hot-path contracts:

1. rrf_fuse / score_combine are ONE Spark plan — constructing the fused
   DataFrame launches ZERO jobs (the per-side counts/maxima are in-plan
   broadcast scalar aggregates, not driver .count()/.first() actions).
2. temporal_flexible matches a pure-Python transcription of the
   reference's FLEXIBLE branch (reference retriever.py:1040-1068) on all
   three branches (before-range decay, after-range decay, in-range
   position boost).
3. limit-before-rank: the ranked-top-k plans contain TakeOrderedAndProject
   and never a global window over the unbounded scores relation.
"""

from __future__ import annotations

import datetime

import pytest

from local_search_engine_spark.operators.fusion import (
    flex_out_factors,
    rrf_fuse,
    score_combine,
    temporal_flexible,
)


def _jobs_during(spark, group: str, fn):
    """Run fn() under a job group; return (result, jobs fired in group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "construction probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_rrf_fuse_builds_and_runs_as_one_plan(spark):
    dense = spark.createDataFrame([(1, 1), (2, 2), (5, 3)], "id long, rank int")
    sparse = spark.createDataFrame([(2, 1), (3, 2)], "id long, rank int")
    fused, jobs = _jobs_during(
        spark, "rrf-build", lambda: rrf_fuse(dense, sparse, k_fusion=10)
    )
    assert jobs == [], "rrf_fuse construction ran Spark jobs"
    rows = {r["id"]: r for r in fused.collect()}
    # id=2 present in both: 0.5/(10+2) + 0.5/(10+1)
    assert rows[2]["rrf_score"] == pytest.approx(0.5 / 12 + 0.5 / 11)
    # id=1 missing from sparse: default rank n_s+1 = 3
    assert rows[1]["rank_s"] == 3
    assert rows[1]["rrf_score"] == pytest.approx(0.5 / 11 + 0.5 / 13)
    # id=3 missing from dense: default rank n_d+1 = 4
    assert rows[3]["rank_d"] == 4


def test_rrf_fuse_duplicate_id_keeps_best_rank(spark):
    """An id listed twice on one side is fused once, at its best rank
    there, and counts once toward that side's default rank; the per-id
    min adds no exchange (it reuses the join's partitioning on id)."""
    import re

    dense = spark.createDataFrame([(1, 1), (2, 2), (1, 3)], "id long, rank int")
    sparse = spark.createDataFrame([(2, 1), (3, 2)], "id long, rank int")
    fused = rrf_fuse(dense, sparse)
    rows = [(r["fused_rank"], r["id"], r["rank_d"], r["rank_s"]) for r in fused.collect()]
    assert rows == [(1, 2, 2, 1), (2, 1, 1, 3), (3, 3, 3, 2)]
    scores = {r["id"]: r["rrf_score"] for r in fused.collect()}
    assert scores[3] == 0.5 / (50 + 3) + 0.5 / (50 + 2)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+)", plan.split("Initial Plan")[0])
    assert sorted(shuffles) == ["SinglePartition", "hashpartitioning", "hashpartitioning"], plan


def test_score_combine_builds_and_runs_as_one_plan(spark):
    dense = spark.createDataFrame([(1, 4.0), (2, 2.0)], "id long, score double")
    sparse = spark.createDataFrame([(2, 10.0), (3, 5.0)], "id long, score double")
    comb, jobs = _jobs_during(
        spark, "sc-build", lambda: score_combine(dense, sparse, w_dense=0.5, w_sparse=0.5)
    )
    assert jobs == [], "score_combine construction ran Spark jobs"
    rows = {r["id"]: r for r in comb.collect()}
    assert rows[1]["norm_d"] == pytest.approx(1.0)
    assert rows[2]["norm_d"] == pytest.approx(0.5)
    assert rows[2]["norm_s"] == pytest.approx(1.0)
    assert rows[3]["norm_d"] == 0.0
    assert rows[2]["combined"] == pytest.approx(0.75)


def test_score_combine_nonpositive_max_zeroes_side(spark):
    dense = spark.createDataFrame([(1, -4.0), (2, -2.0)], "id long, score double")
    sparse = spark.createDataFrame([(1, 5.0)], "id long, score double")
    rows = {r["id"]: r for r in score_combine(dense, sparse).collect()}
    assert rows[1]["norm_d"] == 0.0 and rows[2]["norm_d"] == 0.0
    assert rows[1]["norm_s"] == pytest.approx(1.0)


def test_score_combine_duplicate_id_keeps_max_score(spark):
    """An id listed twice on one side is emitted once, at its max score
    there; the per-id max adds no exchange (it reuses the join's
    partitioning on id)."""
    import re

    dense = spark.createDataFrame([(1, 3.0), (2, 2.0), (1, 1.0)], "id long, score double")
    sparse = spark.createDataFrame([(2, 4.0), (3, 2.0)], "id long, score double")
    comb = score_combine(dense, sparse)
    rows = [(r["combined_rank"], r["id"], r["norm_d"], r["combined"]) for r in comb.collect()]
    assert [(rank, i) for rank, i, _, _ in rows] == [(1, 2), (2, 1), (3, 3)]
    by_id = {i: (nd, c) for _, i, nd, c in rows}
    assert by_id[1][0] == 1.0
    assert by_id[2][1] == pytest.approx(0.5 * 2.0 / 3.0 + 0.5)
    assert by_id[3][1] == pytest.approx(0.25)
    plan = comb._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+)", plan.split("Initial Plan")[0])
    assert sorted(shuffles) == ["SinglePartition", "hashpartitioning", "hashpartitioning"], plan


def _py_flexible(ts: datetime.datetime, start, end, now) -> float:
    """Direct transcription of reference retriever.py:1054-1068."""
    if start and ts < start:
        days_before = (start - ts).days
        return flex_out_factors()[min(days_before, 255)]
    if end and ts > end:
        days_after = (ts - end).days
        return flex_out_factors()[min(days_after, 255)]
    time_range = (end or now) - (start or ts)
    position = (ts - (start or ts)).total_seconds()
    rel = position / max(time_range.total_seconds(), 1)
    return 1.0 + 0.5 * rel


def test_temporal_flexible_matches_reference_semantics(spark):
    start = datetime.datetime(2024, 1, 8)
    end = datetime.datetime(2024, 1, 15)
    now = datetime.datetime(2024, 2, 1)
    stamps = [
        datetime.datetime(2024, 1, 1, 6, 30, 0, 250000),   # 6.7 days before
        datetime.datetime(2024, 1, 7, 23, 59, 59),          # <1 day before
        datetime.datetime(2024, 1, 8, 0, 0, 0),             # exactly start
        datetime.datetime(2024, 1, 11, 12, 0, 0),           # middle
        datetime.datetime(2024, 1, 15, 0, 0, 0),            # exactly end
        datetime.datetime(2024, 1, 15, 0, 0, 1),            # just after
        datetime.datetime(2024, 1, 29, 3, 0, 0, 999999),    # 14+ days after
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(stamps)], "i int, ts timestamp"
    )
    out = {
        r["i"]: r["temporal_score"]
        for r in temporal_flexible(df, "ts", start, end, now).collect()
    }
    for i, t in enumerate(stamps):
        assert out[i] == pytest.approx(_py_flexible(t, start, end, now), abs=1e-12), (
            i,
            t,
        )


def test_temporal_flexible_open_ended(spark):
    """start=None pins rel_pos to 0 (score 1.0 in range); end=None ranges
    to `now` — reference Optional-constraint semantics."""
    now = datetime.datetime(2024, 2, 1)
    end = datetime.datetime(2024, 1, 15)
    df = spark.createDataFrame(
        [(0, datetime.datetime(2024, 1, 10))], "i int, ts timestamp"
    )
    no_start = temporal_flexible(df, "ts", None, end, now).collect()[0]
    assert no_start["temporal_score"] == pytest.approx(1.0)
    start = datetime.datetime(2024, 1, 8)
    no_end = temporal_flexible(df, "ts", start, None, now).collect()[0]
    assert no_end["temporal_score"] == pytest.approx(
        _py_flexible(datetime.datetime(2024, 1, 10), start, None, now)
    )


def test_hybrid_search_wand_sparse_matches_bruteforce(spark):
    """The hybrid lifecycle with the pruned WAND sparse ranker plugged in
    (sparse_fn seam) returns the same fused ranking as brute force."""
    from local_search_engine_spark.operators.build import build_index_from
    from local_search_engine_spark.operators.postings import build_postings
    from local_search_engine_spark.operators.retrieval import hybrid_search
    from local_search_engine_spark.operators.wand import make_wand_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = build_index_from(docs.select("doc_id", "text"), text_col="text")
    postings, shard_meta = build_postings(
        idx, docs_per_shard=200, block_span=64, n_buckets=8
    )
    wand = make_wand_topk(idx, postings, shard_meta, block_span=64)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    query = "how to implement merge join"

    brute, _ = hybrid_search(idx, emb, query, qv, k=15)
    pruned, _ = hybrid_search(
        idx, emb, query, qv, k=15,
        sparse_fn=lambda q, n: wand(q, n, prune=True).select("doc_id", "score"),
    )
    assert [tuple(r) for r in brute.collect()] == [tuple(r) for r in pruned.collect()]


def test_ranked_topk_plan_is_limit_first(spark):
    """The top-k plan must be TakeOrderedAndProject over the scores
    relation (per-partition heap), with any window only over ≤k rows."""
    from local_search_engine_spark.operators.retrieval import _ranked

    scores = spark.range(10_000).selectExpr(
        "id AS doc_id", "cast(id % 97 as double) AS score"
    )
    ranked = _ranked(scores, "score", "doc_id", 10)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert len(ranked.collect()) == 10


def test_temporal_filter_boundary_semantics(spark):
    """P7 strict window is INCLUSIVE on both ends (reference
    retriever.py:1046-1052 uses >= start and <= end) and each open end
    drops its predicate entirely."""
    from local_search_engine_spark.operators.fusion import temporal_filter

    rows = [
        (1, datetime.datetime(2024, 1, 7, 23, 59, 59)),
        (2, datetime.datetime(2024, 1, 8, 0, 0, 0)),     # == start, kept
        (3, datetime.datetime(2024, 1, 10, 12, 0, 0)),
        (4, datetime.datetime(2024, 1, 15, 0, 0, 0)),    # == end, kept
        (5, datetime.datetime(2024, 1, 15, 0, 0, 1)),
    ]
    ev = spark.createDataFrame(rows, "id long, ts timestamp")
    start, end = "2024-01-08 00:00:00", "2024-01-15 00:00:00"
    kept = lambda df: sorted(r["id"] for r in df.collect())  # noqa: E731
    assert kept(temporal_filter(ev, "ts", start=start, end=end)) == [2, 3, 4]
    assert kept(temporal_filter(ev, "ts", start=start)) == [2, 3, 4, 5]
    assert kept(temporal_filter(ev, "ts", end=end)) == [1, 2, 3, 4]
    assert kept(temporal_filter(ev, "ts")) == [1, 2, 3, 4, 5]


def test_temporal_decay_matches_python_twin(spark):
    """F8 exponential recency decay vs a pure-python transcription of
    the reference formula (retriever.py:1044): decayed =
    score * rate^max(days_old, 0), days_old in floor days. Future
    timestamps clamp to factor 1.0. (Gate slot moved to
    pdf_extract_roundtrip late r04 — this twin plus the hash-gated
    inline decay in temporal_nl_search keep the formula pinned.)"""
    from local_search_engine_spark.operators.fusion import temporal_decay

    now = datetime.date(2024, 2, 1)
    rows = [
        (1, datetime.datetime(2024, 1, 31, 5, 0), 10.0),   # 1 day old
        (2, datetime.datetime(2024, 2, 1, 9, 30), 8.0),    # same day -> 0
        (3, datetime.datetime(2024, 2, 3, 0, 0), 6.0),     # future -> clamp
        (4, datetime.datetime(2023, 12, 1, 0, 0), 4.0),    # 62 days old
        (5, datetime.datetime(2024, 1, 15, 23, 59), 0.0),  # zero score
    ]
    ev = spark.createDataFrame(rows, "id long, ts timestamp, value double")
    got = {
        r["id"]: r["decayed"]
        for r in temporal_decay(ev, "ts", now, score_col="value").collect()
    }
    for rid, ts, score in rows:
        days = max((now - ts.date()).days, 0)
        assert got[rid] == pytest.approx(score * 0.95**days, rel=1e-12)
    # filter + decay composition is still ONE narrow plan: no exchange
    from local_search_engine_spark.operators.fusion import temporal_filter

    plan = (
        temporal_decay(temporal_filter(ev, "ts", start="2024-01-01"), "ts", now)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
