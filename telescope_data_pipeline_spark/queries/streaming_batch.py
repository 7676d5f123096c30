"""Event-time window aggregations (SURVEY.md §2.9), batch-mode.

Batch event-time queries over the ``events`` table: tumbling, sliding
and session windows (Spark's ``window`` / ``session_window``), each
hash-compared against its DuckDB oracle. The ``q_stream_`` prefix names
the event-time windowing family.

Reference analogs: the per-epoch grouping (psf_phot.py:44-45) is a
tumbling window over observation time; the walkthrough's bursts-of-3
image sets (README.md:7) are session windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query


@query("q_stream_tumbling", oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts)                    AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*)             AS n,
       ROUND(SUM(value), 2) AS total
FROM events
GROUP BY 1, 2, 3
""")
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window per event type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n", "total")
    )


@query("q_stream_sliding", oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS window_start,
       time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
         + INTERVAL '1 hour'                                                AS window_end,
       COUNT(*)             AS n,
       ROUND(AVG(value), 6) AS avg_value
FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
GROUP BY 1, 2
""")
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour length, 15-minute slide — each event lands
    in 4 overlapping windows (the rolling light-curve smoother,
    SURVEY.md §2.9). The oracle expands the window membership explicitly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "n", "avg_value")
    )


@query("q_stream_session", oracle="""
WITH marked AS (
  -- Spark merges two events into one session iff the gap is STRICTLY
  -- less than the session duration (windows [t,t+gap) must overlap).
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   < INTERVAL '5 minutes'
              THEN 0 ELSE 1 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts)                         AS session_start,
       MAX(ts) + INTERVAL '5 minutes'  AS session_end,
       COUNT(*)                        AS n_events,
       ROUND(SUM(value), 2)            AS total
FROM numbered
GROUP BY user_id, session_id
""")
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 5-minute gap per user — the bursts-of-3
    image-set grouping (README.md:7). Spark's session_window end is
    last-event + gap; the oracle reproduces that with a gaps-and-islands
    construction."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "total")
    )
