"""Temporal NL query parsing — deterministic re-expression of the
reference's TemporalQueryParser (reference query_parser.py:50-125).

Semantics mirrored (SURVEY.md F3-F6):
  * the six relative patterns (query_parser.py:55-62): `last/past/
    previous N <unit>`, `last <unit>`, `yesterday/today/tomorrow`,
    `since X`, `between X and Y`, `N <unit> ago`;
  * informal terms (query_parser.py:64-69): recent=7d, latest=3d,
    new=1d, current=1d;
  * month=30d / year=365d approximations (query_parser.py:102-112);
  * day flooring for specific days (query_parser.py:124);
  * matched expressions are stripped from the query.

Deliberate divergences (documented, not cargo-culted):
  * `now` is an explicit parameter — the reference calls datetime.now()
    (query_parser.py:76), which is untestable and non-reproducible;
  * `since`/`between`/`N ago` actually SET constraints here; the
    reference strips the matched text but never assigns dates for those
    three patterns (query_parser.py:85-95 handles only numbered_period
    and specific_day — a defect, SURVEY.md §4.1 spirit). Dates accepted
    in ISO form (dateparser is unavailable and non-deterministic);
  * `last <unit>` sets start = now - 1 unit (the reference's
    single_period branch is likewise unhandled dead weight).

Everything is driver-side (query strings are tiny); the resulting
constraints feed operators.fusion.temporal_filter / temporal_decay,
which are pushdown-able DataFrame predicates.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import date, datetime, timedelta
from enum import Enum


class TimeFrame(Enum):
    CUSTOM = "custom"
    ALL_TIME = "all_time"
    STRICT = "strict"
    FLEXIBLE = "flexible"


@dataclass
class TemporalConstraints:
    start_date: datetime | None
    end_date: datetime | None
    time_frame: TimeFrame = TimeFrame.FLEXIBLE

    @property
    def has_constraints(self) -> bool:
        return self.start_date is not None or self.end_date is not None


_UNIT_DAYS = {"day": 1, "week": 7, "month": 30, "year": 365}

_NUMBERED = re.compile(r"(?:last|past|previous)\s+(\d+)\s+(day|week|month|year)s?")
_SINGLE = re.compile(r"last\s+(day|week|month|year)")
_SPECIFIC = re.compile(r"\b(yesterday|today|tomorrow)\b")
_SINCE = re.compile(r"since\s+(\d{4}-\d{2}-\d{2})")
_BETWEEN = re.compile(r"between\s+(\d{4}-\d{2}-\d{2})\s+and\s+(\d{4}-\d{2}-\d{2})")
_AGO = re.compile(r"(\d+)\s+(day|week|month|year)s?\s+ago")
_INFORMAL = {"recent": 7, "latest": 3, "new": 1, "current": 1}


def _floor_day(dt: datetime) -> datetime:
    return dt.replace(hour=0, minute=0, second=0, microsecond=0)


def _minus(now: datetime, n: int, unit: str) -> datetime:
    return now - timedelta(days=n * _UNIT_DAYS[unit])


def parse_temporal(query: str, now: datetime) -> tuple[str, TemporalConstraints]:
    """query → (cleaned_query, TemporalConstraints). Deterministic given
    `now`. Later patterns win when several match (reference iteration
    order, query_parser.py:84)."""
    q = query.lower()
    start: datetime | None = None
    end: datetime | None = now

    m = _BETWEEN.search(q)
    if m:
        start = datetime.combine(date.fromisoformat(m.group(1)), datetime.min.time())
        end = datetime.combine(date.fromisoformat(m.group(2)), datetime.min.time()) + timedelta(days=1)
        q = q.replace(m.group(0), " ")
    m = _SINCE.search(q)
    if m:
        start = datetime.combine(date.fromisoformat(m.group(1)), datetime.min.time())
        q = q.replace(m.group(0), " ")
    m = _NUMBERED.search(q)
    if m:
        start = _minus(now, int(m.group(1)), m.group(2))
        q = q.replace(m.group(0), " ")
    m = _AGO.search(q)
    if m:
        start = _minus(now, int(m.group(1)), m.group(2))
        q = q.replace(m.group(0), " ")
    m = _SINGLE.search(q)
    if m:
        start = _minus(now, 1, m.group(1))
        q = q.replace(m.group(0), " ")
    m = _SPECIFIC.search(q)
    if m:
        ref = {"yesterday": -1, "today": 0, "tomorrow": 1}[m.group(1)]
        day0 = _floor_day(now + timedelta(days=ref))
        start, end = day0, day0 + timedelta(days=1)
        q = q.replace(m.group(0), " ")
    for term, days in _INFORMAL.items():
        if re.search(r"\b" + term + r"\b", q):
            start = now - timedelta(days=days)
            q = re.sub(r"\b" + term + r"\b", " ", q)

    cleaned = re.sub(r"\s+", " ", q).strip()
    if start is None:
        return cleaned, TemporalConstraints(None, None, TimeFrame.ALL_TIME)
    return cleaned, TemporalConstraints(start, end, TimeFrame.FLEXIBLE)
