"""Event-stream operators in their batch form: gap-based sessionization
(the registry's tumbling-window count is a plain groupBy inline in
queries.q_events_tumbling).

The reference is pure batch (SURVEY.md §2.9) — this is the engine's
stream-shaped surface, written so the identical expressions run under
Structured Streaming (`session_window`) when fed a readStream source;
in batch it is an ordinary shuffle on the user key.

Scale notes: sessionization shuffles once on user_id and sorts within
partitions (window lag) — AQE-coalesced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessions: a new session starts when the previous event
    of the same user is more than `gap_minutes` older.

    Returns (user_id, session_id, n_events, session_start, session_end)
    with session_id = running session ordinal per user (1-based).
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col("event_id").asc())
    gap = F.unix_timestamp(ts_col) - F.unix_timestamp(F.lag(ts_col).over(w))
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sessioned = events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessioned.groupBy(F.col(user_col).alias("user_id"), "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )
