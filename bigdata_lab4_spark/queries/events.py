"""T-series — batch event-time windows (SURVEY §2.9).

The reference has no streaming; its serving loop is
ingest→transform→append one row at a time
(`/root/reference/src/app.py:68-87`). Here event-time semantics are
first-class: tumbling / sliding / session windows over `events.ts`,
computed in batch (oracle-checkable — window starts are exchanged as
epoch seconds, sidestepping engine timestamp-formatting differences).
Each window is defined once, in :mod:`bigdata_lab4_spark.streaming.windows`;
T1–T3 run that definition on the batch table, and the streaming tests
run it on a replayed stream.

Scale notes: window aggregation is a single hash-agg keyed on
(window, dims) — partial aggregation happens map-side, so 100 TB of
events reduce to per-window partials before the shuffle. The session
window uses Spark's native session_window (merge-able state at
scale) rather than a global sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.registry import query
from bigdata_lab4_spark.streaming.windows import (
    session_event_counts,
    sliding_event_counts,
    tumbling_event_counts,
)


@query(
    "t01_tumbling_window",
    oracle="""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS sum_value,
               round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1, 2
    """,
    doc="T1 tumbling 1-hour window agg — window('ts','1 hour') aligns to epoch "
    "hour boundaries ≡ date_trunc('hour'). Start exchanged as epoch seconds.",
)
def t01_tumbling_window(spark, sf_dir):
    return tumbling_event_counts(load_table(spark, sf_dir, "events"))


@query(
    "t02_sliding_window",
    oracle="""
        WITH slid AS (
            SELECT (CAST(floor(epoch(ts) / 900) AS BIGINT) - k.k) * 900 AS window_start,
                   value
            FROM events, (VALUES (0), (1), (2), (3)) AS k(k)
        )
        SELECT window_start, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM slid GROUP BY window_start
    """,
    doc="T2 sliding window (1 h every 15 min) — each event lands in 4 "
    "overlapping windows; the oracle reproduces Spark's epoch-aligned window "
    "assignment arithmetically (floor(ts/slide)·slide − k·slide).",
)
def t02_sliding_window(spark, sf_dir):
    return sliding_event_counts(load_table(spark, sf_dir, "events"))


@query(
    "t03_session_window",
    oracle="""
        WITH gaps AS (
            SELECT user_id, ts, value,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                             OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_no
            FROM gaps
        )
        SELECT user_id,
               round(min(epoch(ts)), 6) AS session_start,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM sess GROUP BY user_id, session_no
    """,
    doc="T3 session window — 30-minute inactivity gap per user via native "
    "session_window(); the oracle is the classic gaps-and-islands rewrite "
    "(lag → new-session flag → running count → group).",
)
def t03_session_window(spark, sf_dir):
    return session_event_counts(load_table(spark, sf_dir, "events"))


@query(
    "t05_dedup",
    oracle="""
        WITH deduped AS (SELECT DISTINCT ON (event_id) event_id, user_id FROM events)
        SELECT count(*) AS n_unique, count(DISTINCT user_id) AS n_users FROM deduped
    """,
    doc="T5 stateful dedup by event key — dropDuplicates(['event_id']); the "
    "streaming variant is dropDuplicatesWithinWatermark "
    "(bigdata_lab4_spark.streaming).",
)
def t05_dedup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.dropDuplicates(["event_id"]).agg(
        F.count("*").alias("n_unique"), F.countDistinct("user_id").alias("n_users")
    )
