"""Declared queries for the streaming window layer — run in BATCH mode
here so the DuckDB oracle can check the window semantics bit-for-bit;
the identical builder functions run in streaming mode in
tests/test_streaming.py (readStream → a streaming sink, watermark,
applyInPandasWithState).

Oracle shapes:
- tumbling  → time_bucket()
- sliding   → event × UNNEST(overlapping window starts) range expansion
- session   → gaps-and-islands (lag + cumulative sum), end = last + gap
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.scans import read_parquet_table
from ..streaming.windows import (
    session_user_windows,
    sliding_type_activity,
    tumbling_type_counts,
)
from .registry import register


@register(
    "q_events_tumbling",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    -- matches the engine contract: window() drops NULL event times;
    -- without this the oracle would NULL-group them instead
    WHERE ts IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (count + value sum).
    Streaming-ready: algebraic aggregates, O(windows×types) state."""
    return tumbling_type_counts(read_parquet_table(spark, sf_dir, "events"), width="1 hour")


@register(
    "q_events_sliding",
    """
    WITH expanded AS (
        SELECT e.*,
               time_bucket(INTERVAL 1 HOUR, e.ts) - k.k * INTERVAL 1 HOUR AS ws
        FROM events e, UNNEST([0, 1]) AS k(k)
        WHERE e.ts >= time_bucket(INTERVAL 1 HOUR, e.ts) - k.k * INTERVAL 1 HOUR
          AND e.ts <  time_bucket(INTERVAL 1 HOUR, e.ts) - k.k * INTERVAL 1 HOUR + INTERVAL 2 HOUR
    )
    SELECT ws AS window_start,
           ws + INTERVAL 2 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM expanded
    GROUP BY 1, 2, 3
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows, 1-hour slide, per event_type; exact
    distinct users on the batch path (streaming path uses the HLL
    sketch — see sliding_type_activity)."""
    return sliding_type_activity(
        read_parquet_table(spark, sf_dir, "events"),
        width="2 hours",
        slide="1 hour",
        exact_users=True,
    )


@register(
    "q_events_session",
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
               -- strictly greater: an event exactly `gap` after the
               -- previous one EXTENDS the session (session_window
               -- merges touching windows; classic `diff > gap` rule).
               -- `>=` here diverges from the engine on any corpus with
               -- two same-user events exactly one gap apart.
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        -- session_window() drops NULL event times; mirror it here
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT *, SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS session_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap; end-exclusive
    boundary: an event exactly gap after its predecessor opens a new
    session).  Oracle reproduces session_window with gaps-and-islands."""
    return session_user_windows(read_parquet_table(spark, sf_dir, "events"), gap="30 minutes")
