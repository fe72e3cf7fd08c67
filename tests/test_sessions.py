"""Sessionization: gap-based sessions per user, a session breaking
where the gap to the user's previous event exceeds the threshold."""

from __future__ import annotations

import datetime

from local_search_engine_spark.streaming.sessions import sessionize

SCHEMA = "user_id long, ts timestamp, value double"
T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ev(user, minutes, value=1.0):
    return (user, T0 + datetime.timedelta(minutes=minutes), value)


EVENTS = [
    # user 1: two sessions split by a 500-min gap (gap threshold 360)
    _ev(1, 0), _ev(1, 10), _ev(1, 30),
    _ev(1, 530), _ev(1, 540),
    # user 2: one long session, events 100 min apart
    _ev(2, 0), _ev(2, 100), _ev(2, 200), _ev(2, 300),
    # user 3: a single event
    _ev(3, 50),
    # user 1 again: a third session far out
    _ev(1, 2000), _ev(1, 2010),
]


def test_batch_sessionize_semantics(spark):
    df = spark.createDataFrame(EVENTS, SCHEMA)
    out = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["sum_value"])
        for r in sessionize(df, gap_minutes=360).collect()
    }
    assert out[(1, 1)] == (3, 3.0)
    assert out[(1, 2)] == (2, 2.0)
    assert out[(1, 3)] == (2, 2.0)
    assert out[(2, 1)] == (4, 4.0)
    assert out[(3, 1)] == (1, 1.0)

