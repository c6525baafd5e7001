"""Event-time windows shared by the batch T-series and Structured
Streaming (SURVEY §2.9 T1–T7).

The reference's serving loop is already streaming *in spirit* —
ingest one message, transform, append to a sink
(`/root/reference/src/app.py:68-87`); it just has no engine for it.
Here each window is one function of an events DataFrame
(:mod:`~bigdata_lab4_spark.streaming.windows`): the batch queries run
it on the events table, and a ``readStream`` source runs the same
function with the module watermark into an append parquet sink.
:mod:`~bigdata_lab4_spark.streaming.stateful` adds the custom
sessionizer (T7), which cuts the same sessions as T3.
"""

from bigdata_lab4_spark.streaming.stateful import sessionize_stream
from bigdata_lab4_spark.streaming.windows import (
    dedup_events_stream,
    read_events_stream,
    run_available_now,
    session_event_counts,
    sliding_event_counts,
    tumbling_event_counts,
)

__all__ = [
    "dedup_events_stream",
    "sessionize_stream",
    "read_events_stream",
    "session_event_counts",
    "sliding_event_counts",
    "tumbling_event_counts",
    "run_available_now",
]
