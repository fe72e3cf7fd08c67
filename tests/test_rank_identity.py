"""Rank-identity: Spark engine vs pure-Python oracle on the fixture
corpus + fixture query set (FIXTURES.md §2-3, BASELINE.md targets).

Asserts per query: identical (rank → doc_id) sequence, scores within
1e-9, and the per-row content sha256 invariant (BASELINE.json input_hint).
"""

import pytest

from local_search_engine_spark.operators.build import build_index
from local_search_engine_spark.operators.query import run_query_set, topk
from local_search_engine_spark.sources.corpus import (
    gen_corpus_spark,
    query_set,
)

from .oracle import oracle_for_corpus, sorted_corpus_rows

N_DOCS = 100  # SF=0.001


@pytest.fixture(scope="module")
def index(spark):
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=8)
    idx = build_index(corpus)
    yield idx


@pytest.fixture(scope="module")
def oracle():
    return oracle_for_corpus(N_DOCS)


def test_stats_match(index, oracle):
    assert index.n_docs == oracle.n_docs
    assert index.avgdl == pytest.approx(oracle.avgdl, abs=1e-9)
    assert index.avg_idf == pytest.approx(oracle.avg_idf, rel=1e-12)


def test_idf_matches(index, oracle):
    got = {r["term"]: (r["df"], r["idf"]) for r in index.idf.collect()}
    assert set(got) == set(oracle.df)
    for term, (df_, idf_) in got.items():
        assert df_ == oracle.df[term], term
        assert idf_ == pytest.approx(oracle.idf[term], abs=1e-9), term


def test_sha256_invariant(spark, index):
    """Per-row invariant: sha256(content) of every indexed doc equals the
    source table's — zero mismatches (input_hint requirement)."""
    import hashlib

    want = {
        (r["repo"], r["path"], r["commit"]): hashlib.sha256(
            r["content"].encode()
        ).hexdigest()
        for r in sorted_corpus_rows(N_DOCS)
    }
    got = index.docs.select("repo", "path", "commit", "content_sha256").collect()
    assert len(got) == N_DOCS
    for r in got:
        assert r["content_sha256"] == want[(r["repo"], r["path"], r["commit"])]


def test_rank_identity_batch(index, oracle):
    """The whole fixture query set through the single-plan batch path."""
    qs = query_set(N_DOCS)
    got = run_query_set(index, qs).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, text, k in qs:
        engine = sorted(by_q.get(qid, []))
        want = oracle.topk(text, k)
        assert [(r, d) for r, d, _ in engine] == [
            (r, d) for r, d, _ in want
        ], f"q{qid} '{text}' k={k}"
        for (_, _, s_e), (_, _, s_o) in zip(engine, want):
            assert s_e == pytest.approx(s_o, abs=1e-9), f"q{qid} '{text}'"


@pytest.mark.parametrize("k", [1, 5, 10, 100])
def test_single_query_k_sweep(index, oracle, k):
    got = [(r["rank"], r["doc_id"], r["score"]) for r in topk(index, "query merge", k).collect()]
    want = oracle.topk("query merge", k)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]


def test_partition_count_invariance(spark, oracle):
    """Same corpus at a different generation parallelism + shuffle width
    → identical ranks (doc_id contract is partition-independent)."""
    corpus = gen_corpus_spark(spark, N_DOCS, partitions=3)
    idx = build_index(corpus)
    got = [
        (r["rank"], r["doc_id"])
        for r in topk(idx, "def merge shard", 10).collect()
    ]
    want = [(r, d) for r, d, _ in oracle.topk("def merge shard", 10)]
    assert got == want


def test_explain_score_decomposes_exactly(index, oracle):
    """explain_score (Elasticsearch _explain twin): per-term rows carry
    the oracle's tf/df/idf exactly, each contribution matches the
    oracle's per-term product, and the ascending-term sum reproduces
    the doc's score_terms score bit-exactly (the engine summation
    rule). Terms absent from the doc are omitted; an all-OOV query
    yields zero rows."""
    import math
    from collections import Counter

    from local_search_engine_spark.functions.tokenize import tokenize_py
    from local_search_engine_spark.operators.query import (
        explain_score,
        score_all,
    )

    query = "def merge shard merge"
    top = topk(index, query, 3).collect()
    assert top
    for row in top:
        d = row["doc_id"]
        rows = explain_score(index, query, d).orderBy("term").collect()
        assert rows
        qt = Counter(tokenize_py(query))
        # every present query term appears exactly once, absent omitted
        want_terms = sorted(t for t in set(qt) if oracle.tf[d].get(t))
        assert [r["term"] for r in rows] == want_terms
        total = 0.0
        for r in rows:
            t = r["term"]
            assert r["qtf"] == qt[t]
            assert r["tf"] == oracle.tf[d][t]
            assert r["df"] == oracle.df[t]
            assert r["idf"] == pytest.approx(oracle.idf[t], abs=1e-12)
            dl = oracle.doc_len[d]
            want_c = (
                oracle.idf[t] * qt[t] * oracle.tf[d][t] * (oracle.k1 + 1.0)
                / (oracle.tf[d][t]
                   + oracle.k1 * (1 - oracle.b + oracle.b * dl / oracle.avgdl))
            )
            assert r["contribution"] == pytest.approx(want_c, abs=1e-12)
            total += r["contribution"]  # rows are in ascending term order
        # bit-exact against the engine's own aggregate for this doc
        engine_score = (
            score_all(index, query).filter(f"doc_id = {d}").first()["score"]
        )
        assert math.isclose(total, engine_score, rel_tol=0, abs_tol=0.0) or (
            total == engine_score
        )
    assert explain_score(index, "zzqq qqzz", int(top[0]["doc_id"])).count() == 0
    assert explain_score(index, "", 0).count() == 0
