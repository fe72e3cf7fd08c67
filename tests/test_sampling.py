"""Deterministic hash sampling + composed cleaning pipeline contracts."""

from __future__ import annotations

from local_search_engine_spark.operators import sampling as S

SF0001 = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


def test_hash_sample_deterministic_and_partition_stable(spark):
    docs = _docs(spark)
    a = sorted(r["doc_id"] for r in S.hash_sample(docs, 0.3).collect())
    b = sorted(r["doc_id"] for r in S.hash_sample(docs, 0.3).collect())
    c = sorted(
        r["doc_id"] for r in S.hash_sample(docs.repartition(17), 0.3).collect()
    )
    assert a == b == c and 0 < len(a) < docs.count()


def test_hash_sample_rate_monotone_and_nested(spark):
    """A lower-rate sample is a SUBSET of a higher-rate sample with the
    same salt (consistent-sampling property), and rates 0/1 are exact."""
    docs = _docs(spark)
    s10 = {r["doc_id"] for r in S.hash_sample(docs, 0.1).collect()}
    s50 = {r["doc_id"] for r in S.hash_sample(docs, 0.5).collect()}
    assert s10 <= s50
    assert S.hash_sample(docs, 0.0).count() == 0
    assert S.hash_sample(docs, 1.0).count() == docs.count()


def test_hash_sample_salt_independence(spark):
    docs = _docs(spark)
    a = {r["doc_id"] for r in S.hash_sample(docs, 0.5, salt="x").collect()}
    b = {r["doc_id"] for r in S.hash_sample(docs, 0.5, salt="y").collect()}
    assert a != b  # independent draws


def test_stratified_rates_respected(spark):
    docs = _docs(spark)
    out = S.stratified_hash_sample(
        docs, rates={"en": 1.0, "zh": 0.0}, strata_col="lang", default_rate=0.5
    )
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert "zh" not in langs
    n_en = docs.filter("lang = 'en'").count()
    assert out.filter("lang = 'en'").count() == n_en


def test_hash_sample_zero_shuffle(spark):
    plan = (
        S.hash_sample(_docs(spark), 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_sample_rejects_bad_rate():
    import pytest

    with pytest.raises(ValueError):
        S.hash_sample(None, 1.5)
    with pytest.raises(ValueError):
        S.stratified_hash_sample(None, {"en": -0.1}, "lang")


def test_clean_corpus_planted_verdicts(spark):
    """One doc per failure mode + one clean doc."""
    from local_search_engine_spark.operators.pipeline import clean_corpus

    good = (
        "the quick brown fox jumps over the lazy dog while many other "
        "animals watch carefully from the tall green grass nearby today"
    )
    docs = spark.createDataFrame(
        [
            (1, good),                       # clean
            (2, good),                       # exact dup of 1
            (3, "spam " * 50),               # repetition fail
            (4, "@@ ## !! %% ^^ &&"),        # quality fail (no alpha, no tokens)
            (5, "leak alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "leak alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in clean_corpus(docs, bench, min_quality=0.3).collect()
    }
    assert rows[1]["keep"]
    assert rows[2]["is_dup"] and not rows[2]["keep"]
    assert not rows[3]["repetition_pass"] and not rows[3]["keep"]
    assert not rows[4]["quality_ok"] and not rows[4]["keep"]
    assert not rows[5]["decontam_ok"] and not rows[5]["keep"]
    # without a benchmark, decontamination is vacuous and doc 5 survives
    rows_nb = {
        r["doc_id"]: r for r in clean_corpus(docs, None, min_quality=0.3).collect()
    }
    assert rows_nb[5]["decontam_ok"] and rows_nb[5]["keep"]


def test_hash_sample_matches_python_oracle(spark):
    """hash_sample keeps exactly the rows whose plain-Python
    h32(f"{salt}:{id}") falls under int(rate * 2^32) (the
    consistent-sampling cross-engine contract)."""
    from .oracle import hash_sampled

    docs = _docs(spark)
    got = sorted(r["doc_id"] for r in S.hash_sample(docs, 0.3, salt="tw").collect())
    want = hash_sampled([r["doc_id"] for r in docs.select("doc_id").collect()], 0.3, "tw")
    assert got == want and len(got) > 0


def test_clean_corpus_empty_and_all_dup_corpora(spark):
    """Degenerate corpora: empty input yields an empty verdict table;
    an all-identical corpus keeps exactly one doc."""
    from local_search_engine_spark.operators.pipeline import clean_corpus

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert clean_corpus(empty, None).count() == 0

    good = (
        "the quick brown fox jumps over the lazy dog while many other "
        "animals watch carefully from the tall green grass nearby today"
    )
    dups = spark.createDataFrame(
        [(i, good) for i in range(5)], "doc_id long, text string"
    )
    v = clean_corpus(dups, None).collect()
    keepers = [r["doc_id"] for r in v if r["keep"]]
    assert keepers == [0]  # min-id survivor only


def test_clean_corpus_null_text_gets_a_verdict(spark):
    """Null text is cleaned as "": every doc keeps its verdict row, and
    a null doc is an exact duplicate of an empty one, failing the
    quality floor as the empty doc does."""
    from local_search_engine_spark.operators.pipeline import clean_corpus

    good = (
        "the quick brown fox jumps over the lazy dog while many other "
        "animals watch carefully from the tall green grass nearby today"
    )
    docs = spark.createDataFrame(
        [(1, good), (2, None), (3, ""), (4, None)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    for b in (None, bench):
        rows = {r["doc_id"]: r for r in clean_corpus(docs, b).collect()}
        assert sorted(rows) == [1, 2, 3, 4]
        assert [rows[i]["is_dup"] for i in (1, 2, 3, 4)] == [False, False, True, True]
        assert [rows[i]["quality_ok"] for i in (1, 2, 3, 4)] == [True, False, False, False]
        assert [rows[i]["keep"] for i in (1, 2, 3, 4)] == [True, False, False, False]


def test_benchmark_contamination_empty_benchmark(spark):
    """An empty benchmark contaminates nothing (left join finds no
    hits); every doc still gets a verdict row."""
    from local_search_engine_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "x")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in D.benchmark_contamination(docs, bench).collect()}
    assert len(rows) == 2
    assert rows[1]["n_hit"] == 0 and not rows[1]["is_contaminated"]
    assert rows[2]["n_shingles"] == 0 and not rows[2]["is_contaminated"]
