"""Diversity operators: per-group result collapsing (capped_topk) and
greedy MMR re-ranking, each against its plain-Python oracle."""

from __future__ import annotations

from local_search_engine_spark.operators.diversity import capped_topk

from . import oracle


def test_capped_topk_collapses_groups(spark):
    rows = [
        # group A monopolizes the top scores
        (1, "A", 10.0), (2, "A", 9.0), (3, "A", 8.0), (4, "A", 7.0),
        (5, "B", 6.0), (6, "B", 5.0), (7, "C", 4.0), (8, "C", 3.0),
        (9, "C", 2.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    got = [
        (r["rank"], r["doc_id"], r["source"])
        for r in capped_topk(df, k=5, cap=2, group_col="source")
        .orderBy("rank")
        .collect()
    ]
    # docs 3,4 (A beyond cap) and 9 (C beyond cap) must not appear
    assert got == [(1, 1, "A"), (2, 2, "A"), (3, 5, "B"), (4, 6, "B"), (5, 7, "C")]


def test_capped_topk_tiebreak_by_id(spark):
    rows = [(i, "G", 1.0) for i in (9, 3, 7, 1)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    got = [
        r["doc_id"]
        for r in capped_topk(df, k=3, cap=3, group_col="source")
        .orderBy("rank")
        .collect()
    ]
    assert got == [1, 3, 7]


def test_capped_topk_megagroup_guard(spark):
    """With one group holding >50% of all rows, the mega-group guard
    pre-cuts each (group, salt) shard to its local top-cap, so NO
    window over the full relation is partitioned by group alone — and
    the result equals the plain per-group cap of the oracle."""
    rows = [(i, "MEGA", float(1000 - i)) for i in range(600)] + [
        (1000 + i, f"g{i % 7}", float(500 - i)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    guarded = capped_topk(df, k=20, cap=3, group_col="source")
    got = [
        (r["rank"], r["doc_id"], r["source"], r["score"])
        for r in guarded.orderBy("rank").collect()
    ]
    assert got == oracle.capped_topk(rows, k=20, cap=3)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    # the guard's salted window must be in the executed plan: the only
    # window that sees the FULL relation partitions by (source, _salt),
    # so the mega-group splits across 32 shard partitions; the
    # group-only window upstream of it sees <= cap*32 rows/group
    assert "_salt" in plan, plan
    assert plan.count("Window") >= 3, plan  # salted + per-group + final rank


def test_mmr_rerank_balances_relevance_and_redundancy():
    # b is nearly identical to a; with lambda 0.5 the reranker must
    # prefer the less-relevant-but-novel c over b at position 2
    cands = [("a", 1.0), ("b", 0.95), ("c", 0.6)]
    sims = {("a", "b"): 0.99, ("a", "c"): 0.1, ("b", "c"): 0.1}
    assert oracle.mmr_rerank_py(cands, sims, k=3, lam=0.5) == ["a", "c", "b"]
    # lambda 1.0 = pure relevance order
    assert oracle.mmr_rerank_py(cands, sims, k=3, lam=1.0) == ["a", "b", "c"]
    # ties break by ascending id
    assert oracle.mmr_rerank_py([("x", 1.0), ("w", 1.0)], {}, k=2, lam=1.0) == ["w", "x"]


def test_mmr_batch_matches_python_kernel(spark):
    """Two queries reranked in one distributed pass == per-query greedy
    python kernel with cosine sims."""
    import itertools
    import math

    emb_rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    cand_rows = [
        (0, 1, 1.0), (0, 2, 0.95), (0, 3, 0.6),
        (1, 2, 0.9), (1, 3, 0.85), (1, 4, 0.8),
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    cands = spark.createDataFrame(cand_rows, "qid long, doc_id long, score double")
    from local_search_engine_spark.operators.diversity import mmr_rerank_batch

    got = {
        (r["qid"], r["rank"]): r["doc_id"]
        for r in mmr_rerank_batch(cands, emb, k=2, lam=0.5).collect()
    }

    vecs = dict(emb_rows)

    def cos(a, b):
        num = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        den = math.sqrt(sum(x * x for x in vecs[a])) * math.sqrt(
            sum(x * x for x in vecs[b])
        )
        return num / den

    want = {}
    for qid in (0, 1):
        cl = [(d, s) for q, d, s in cand_rows if q == qid]
        sims = {
            (a, b): cos(a, b)
            for a, b in itertools.combinations([d for d, _ in cl], 2)
        }
        for rank, d in enumerate(oracle.mmr_rerank_py(cl, sims, k=2, lam=0.5), 1):
            want[(qid, rank)] = d
    assert got == want
    # novelty actually matters: query 0 must skip the near-dup doc 2
    assert got[(0, 1)] == 1 and got[(0, 2)] == 3
