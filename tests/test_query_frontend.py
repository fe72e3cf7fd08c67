"""Driver-side query frontend: temporal NL parsing (reference
query_parser.py:50-125) and intent classification → retrieval weights
(reference query_classifier.py:161-238). Pure Python, no Spark."""

from datetime import datetime, timedelta

from local_search_engine_spark.functions.classify import (
    QueryType,
    analyze_query,
    type_scores,
)
from local_search_engine_spark.functions.temporal import (
    TimeFrame,
    parse_temporal,
)

NOW = datetime(2024, 2, 1, 15, 30, 0)


def test_numbered_period():
    q, c = parse_temporal("bug fixes last 7 days", NOW)
    assert q == "bug fixes"
    assert c.start_date == NOW - timedelta(days=7)
    assert c.end_date == NOW
    assert c.time_frame is TimeFrame.FLEXIBLE


def test_month_year_approximations():
    _, c = parse_temporal("past 2 months refactor", NOW)
    assert c.start_date == NOW - timedelta(days=60)
    _, c = parse_temporal("previous 1 year audit", NOW)
    assert c.start_date == NOW - timedelta(days=365)


def test_single_period():
    q, c = parse_temporal("last week deploys", NOW)
    assert q == "deploys"
    assert c.start_date == NOW - timedelta(days=7)


def test_specific_days_floor_to_midnight():
    q, c = parse_temporal("yesterday incidents", NOW)
    assert q == "incidents"
    assert c.start_date == datetime(2024, 1, 31)
    assert c.end_date == datetime(2024, 2, 1)
    _, c = parse_temporal("today standup", NOW)
    assert (c.start_date, c.end_date) == (datetime(2024, 2, 1), datetime(2024, 2, 2))


def test_since_and_between_iso():
    q, c = parse_temporal("since 2024-01-10 migrations", NOW)
    assert q == "migrations"
    assert c.start_date == datetime(2024, 1, 10)
    q, c = parse_temporal("between 2024-01-05 and 2024-01-12 releases", NOW)
    assert q == "releases"
    assert c.start_date == datetime(2024, 1, 5)
    assert c.end_date == datetime(2024, 1, 13)  # inclusive end day


def test_ago_pattern():
    _, c = parse_temporal("3 weeks ago outage", NOW)
    assert c.start_date == NOW - timedelta(weeks=3)


def test_informal_terms():
    for term, days in (("recent", 7), ("latest", 3), ("new", 1), ("current", 1)):
        q, c = parse_temporal(f"{term} changes", NOW)
        assert q == "changes"
        assert c.start_date == NOW - timedelta(days=days)


def test_no_temporal_all_time():
    q, c = parse_temporal("binary search tree", NOW)
    assert q == "binary search tree"
    assert not c.has_constraints
    assert c.time_frame is TimeFrame.ALL_TIME


# --- classification -------------------------------------------------------


def test_factual():
    a = analyze_query("what is a b-tree")
    assert a.query_type is QueryType.FACTUAL
    assert a.weights["sparse"] > a.weights["dense"]


def test_reasoning_why_bonus():
    a = analyze_query("why does the shuffle spill")
    assert a.query_type is QueryType.REASONING
    assert a.confidence >= 0.9 - 1e-9  # 0.3 (why) + 0.6 bonus, capped 1.0


def test_procedural_imperative():
    a = analyze_query("implement a bloom filter")
    assert a.query_type is QueryType.PROCEDURAL


def test_comparison_markers():
    a = analyze_query("compare sort merge join versus hash join")
    assert a.query_type is QueryType.COMPARISON


def test_low_confidence_interpolates_toward_half():
    a = analyze_query("flux capacitor")
    assert a.confidence < 0.5
    for w in a.weights.values():
        assert abs(w - 0.5) <= abs(0.8 - 0.5) * a.confidence + 1e-12


def test_scores_capped_at_one():
    s = type_scores("why why why explain explain because reason for understand")
    assert max(s.values()) <= 1.0


def test_weights_table_exact_when_confident():
    a = analyze_query("what is the meaning of mvcc")
    if a.confidence >= 0.5:
        assert a.weights == {"dense": 0.2, "sparse": 0.8}


def test_suggest_terms_autocomplete(spark):
    from local_search_engine_spark.operators.build import build_index_from
    from local_search_engine_spark.operators.query import suggest_terms

    docs = spark.createDataFrame(
        [
            (0, "merge merges merged shard"),
            (1, "merge mesh metadata"),
            (2, "merge zebra"),
        ],
        "doc_id long, text string",
    )
    idx = build_index_from(docs, text_col="text", cache=False)
    got = [(r["term"], r["df"]) for r in suggest_terms(idx, "me", 10).collect()]
    assert got[0] == ("merge", 3)  # highest df first
    assert all(t.startswith("me") for t, _ in got)
    assert {t for t, _ in got} == {"merge", "merges", "merged", "mesh", "metadata"}
    assert [r["term"] for r in suggest_terms(idx, "MERG", 10).collect()] == [
        "merge", "merged", "merges",
    ]
    assert suggest_terms(idx, "", 5).count() == 0
    assert suggest_terms(idx, "zzz", 5).count() == 0
