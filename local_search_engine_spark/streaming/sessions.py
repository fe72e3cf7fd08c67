"""Event sessionization — gap-based sessions over a (user, ts) event
table:

  * sessionize — lag-gap flag → running count per user → per-session
    aggregate. Two window passes over user-partitioned data
    (scale-safe: partition key is user_id; a pathological hot user
    skews one partition — AQE skew handling or a per-user salt+re-merge
    applies). SQL-expressible, hence the driver gate's oracle.

The reference has no event analytics at all — this is part of the
engine's beyond-reference pipeline surface (events table, TESTDATA.md).
Timestamps flow as integer epoch micros (naive==UTC convention, see
fusion.temporal_flexible) so outputs hash identically across engines.
"""

from __future__ import annotations

DEFAULT_GAP_MINUTES = 360


def _ts_us_col(df, ts_col: str):
    from pyspark.sql import functions as F

    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {ts_col})"
        )
    return F.unix_micros(F.col(ts_col))


def sessionize(
    events,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    gap_minutes: int = DEFAULT_GAP_MINUTES,
):
    """(user_id, session_idx, session_start_us, session_end_us, n_events,
    sum_value): gap-based sessions; a session breaks when the gap to the
    previous event of the same user exceeds gap_minutes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    gap_us = int(gap_minutes) * 60_000_000
    ev = events.select(
        F.col(user_col).alias("user_id"),
        _ts_us_col(events, ts_col).alias("ts_us"),
        F.col(value_col).alias("value"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    idxed = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return idxed.groupBy("user_id", "session_idx").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count("*").cast("long").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )

