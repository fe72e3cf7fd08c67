"""BM25F multi-field index (build.build_index_fields) vs a pure-Python
twin: blended tf / blended doc length / any-field df / two-pass idf /
final ranking all re-derived independently; the degenerate single-field
build matches classic BM25 rank-for-rank; field weighting actually
reorders results; the blended index composes with the boolean layer."""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

from local_search_engine_spark import BM25_B, BM25_EPSILON, BM25_K1
from local_search_engine_spark.functions.tokenize import tokenize_py
from local_search_engine_spark.operators.build import (
    build_index_fields,
    build_index_from,
)
from local_search_engine_spark.operators.query import score_all

TITLE_VOCAB = ["merge", "shard", "index", "scan", "agg"]
BODY_VOCAB = ["table", "row", "fast", "slow", "io", "merge", "scan"]


def _gen_rows(n: int, seed: int = 37):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        title = " ".join(rng.choice(TITLE_VOCAB) for _ in range(rng.randint(1, 4)))
        body = " ".join(rng.choice(BODY_VOCAB) for _ in range(rng.randint(0, 25)))
        rows.append((i, title, body))
    return rows


WEIGHTS = {"title": 2.5, "body": 1.0}


class _BM25FOracle:
    def __init__(self, rows, weights, k1=BM25_K1, b=BM25_B, eps=BM25_EPSILON):
        self.k1, self.b = k1, b
        self.tf: dict[int, Counter] = {}
        for row in rows:
            doc_id, fields = row[0], {"title": row[1], "body": row[2]}
            c: Counter = Counter()
            for f, w in weights.items():
                for t in tokenize_py(fields[f]):
                    c[t] += w
            self.tf[doc_id] = c
        self.dl = {d: sum(c.values()) for d, c in self.tf.items()}
        self.n = len(rows)
        self.avgdl = sum(self.dl.values()) / self.n
        df: Counter = Counter()
        for c in self.tf.values():
            for t in c:
                df[t] += 1
        self.df = dict(df)
        idf_raw = {
            t: math.log(self.n - d + 0.5) - math.log(d + 0.5)
            for t, d in df.items()
        }
        floor = eps * (sum(idf_raw.values()) / len(idf_raw))
        self.idf = {t: (v if v >= 0 else floor) for t, v in idf_raw.items()}

    def score(self, qterms, d):
        s = 0.0
        for t, qtf in sorted(Counter(qterms).items()):
            tf = self.tf[d].get(t, 0.0)
            if not tf:
                continue
            s += (
                self.idf[t] * qtf * tf * (self.k1 + 1.0)
                / (tf + self.k1 * (1 - self.b + self.b * self.dl[d] / self.avgdl))
            )
        return s

    def topk(self, query, k):
        qt = tokenize_py(query)
        scored = [
            (d, round(self.score(qt, d), 6))
            for d in self.tf
            if any(self.tf[d].get(t) for t in set(qt))
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return [(r + 1, d, s) for r, (d, s) in enumerate(scored[:k])]


@pytest.fixture(scope="module")
def setup(spark):
    rows = _gen_rows(100)
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    idx = build_index_fields(df.repartition(8), WEIGHTS)
    return rows, df, idx, _BM25FOracle(rows, WEIGHTS)


def _engine_topk(idx, query, k):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scored = score_all(idx, query).withColumn("score", F.round("score", 6))
    order = [F.desc("score"), F.asc("doc_id")]
    top = scored.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return [
        (r["rank"], r["doc_id"], r["score"])
        for r in top.withColumn("rank", F.row_number().over(w)).collect()
    ]


@pytest.mark.parametrize("query", ["merge", "merge scan", "fast table merge", "io"])
def test_bm25f_matches_oracle(setup, query):
    rows, df, idx, oracle = setup
    got = _engine_topk(idx, query, 15)
    want = oracle.topk(query, 15)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-6


def test_bm25f_stats_match_oracle(setup):
    rows, df, idx, oracle = setup
    assert idx.n_docs == oracle.n
    assert abs(idx.avgdl - oracle.avgdl) < 1e-9
    got_df = {r["term"]: r["df"] for r in idx.idf.collect()}
    assert got_df == oracle.df
    got_dl = {r["doc_id"]: r["doc_len"] for r in idx.docs.collect()}
    assert got_dl == pytest.approx(oracle.dl)


def test_single_field_degenerates_to_bm25(setup, spark):
    """{field: 1.0} must equal the classic single-field build: same
    ranks, scores equal to float noise (int vs double tf)."""
    rows, df, _, _ = setup
    fidx = build_index_fields(df, {"body": 1.0})
    cidx = build_index_from(df.select("doc_id", "body"), text_col="body")
    got = _engine_topk(fidx, "fast table", 15)
    want = _engine_topk(cidx, "fast table", 15)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want]
    for (_, _, a), (_, _, b) in zip(got, want):
        assert abs(a - b) < 1e-9


def test_field_weight_reorders(spark):
    """Two docs with the same total occurrences of the query term: the
    one whose occurrences sit in the boosted field must rank first —
    and with flat weights the shorter-field doc wins instead (pure
    length norm), proving the weight is what reorders."""
    rows = [
        (0, "merge", "x1 x2 x3 x4"),  # term in TITLE
        (1, "x1", "merge x2 x3 x4"),  # term in body, same sizes
        # filler docs keep idf('merge') positive — on an all-docs-match
        # corpus the epsilon floor makes every idf negative (BM25Okapi
        # semantics) and the comparison flips sign
        *[(i, "x1", "x2 x3 x4 x5") for i in range(2, 10)],
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    boosted = build_index_fields(df, {"title": 3.0, "body": 1.0})
    got = _engine_topk(boosted, "merge", 2)
    assert [d for _, d, _ in got] == [0, 1]
    flat = build_index_fields(df, {"title": 1.0, "body": 1.0})
    flat_scores = {d: s for _, d, s in _engine_topk(flat, "merge", 2)}
    assert flat_scores[0] == flat_scores[1]  # symmetric under flat weights


def test_bm25f_composes_with_boolquery(setup):
    """The blended index drives the boolean layer unchanged."""
    from local_search_engine_spark.operators import boolquery as bq

    rows, df, idx, oracle = setup
    got = {r["doc_id"] for r in bq.matches(idx, "merge AND NOT io").collect()}
    want = {
        d
        for d, c in oracle.tf.items()
        if c.get("merge") and not c.get("io")
    }
    assert got == want
    ranked = [
        (r["rank"], r["doc_id"], r["score"])
        for r in bq.topk(idx, "merge AND NOT io", 10).collect()
    ]
    w2 = [
        (d, round(oracle.score(["merge"], d), 6))
        for d in sorted(want)
    ]
    w2.sort(key=lambda x: (-x[1], x[0]))
    assert [(r, d) for r, d, _ in ranked] == [
        (i + 1, d) for i, (d, _) in enumerate(w2[:10])
    ]


def test_bad_inputs(setup, spark):
    rows, df, _, _ = setup
    with pytest.raises(ValueError, match="at least one column"):
        build_index_fields(df, {})
    with pytest.raises(ValueError, match="positive"):
        build_index_fields(df, {"title": 0.0})
    with pytest.raises(ValueError, match="unknown field column"):
        build_index_fields(df, {"nope": 1.0})
