"""Streaming event-time windows: watermark + late data (T4) and the
append sink (T6).

Design notes (SURVEY §2.9): the batch ``t01_tumbling_window``
(`queries/events.py`) runs :func:`tumbling_event_counts` itself —
groupBy ``window('ts', …)`` — so correctness is checked by comparing
emitted windows against the batch plan over the same rows
(tests/test_streaming.py).  What streaming adds is state semantics:

* ``withWatermark('ts', …)`` bounds the aggregation state — without
  it a 100 TB/day stream accumulates windows forever;
* rows older than the watermark are dropped (late-data policy);
* append output mode emits each window exactly once, when the
  watermark passes its end — which is what makes a parquet sink
  (immutable files) a valid target.

The file source is the test harness's stand-in for Kafka: same
micro-batch execution, same state store, same watermark movement.
``Trigger.AvailableNow`` + ``maxFilesPerTrigger`` replays a directory
as a bounded multi-batch stream — watermarks only advance *between*
micro-batches, so a single-batch replay would emit nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of an events directory.

    Parquet streaming needs an explicit schema (no inference mid-
    stream); by default it is borrowed from a batch read of the same
    path. ``max_files_per_trigger`` caps each micro-batch so a
    directory replays as a genuine multi-batch stream.

    This reader does NOT touch session configuration (a reader
    mutating ``spark.sql.session.timeZone`` as a side effect leaks
    into every other query on the session): timezone semantics belong
    to the session owner — the engine's factory pins UTC, and the
    epoch-aligned tumbling windows downstream are timezone-independent
    for instant-typed ``ts`` columns anyway.
    """
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def tumbling_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-(window, event_type) count, sum and mean of ``value`` — the
    T1 query in batch, where ``withWatermark`` is a no-op. On a stream,
    state per (window, event_type) is dropped once the watermark
    passes the window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
            "avg_value",
        )
    )


def dedup_events_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming stateful dedup (T5's streaming form):
    ``dropDuplicatesWithinWatermark`` — the batch
    ``t05_dedup``'s ``dropDuplicates(['event_id'])`` with BOUNDED
    state.

    Plain streaming ``dropDuplicates`` keeps every key ever seen —
    unbounded state, a guaranteed OOM on a 100 TB/day stream.
    ``dropDuplicatesWithinWatermark`` evicts a key once the
    watermark passes its event time, trading completeness for a
    bound: a duplicate arriving *later* than the watermark delay is
    re-emitted (tests/test_streaming.py pins both behaviors). That
    is the right trade when duplicates come from retries/at-least-
    once sources, which cluster within seconds of the original.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def run_available_now(
    df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    output_mode: str = "append",
    timeout_s: int = 300,
) -> None:
    """Drain all currently-available input through the query and
    append results to a parquet sink (T6), then stop.  The
    checkpoint directory carries the state store + watermark, so a
    rerun resumes exactly-once instead of recomputing."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"stream did not drain within {timeout_s}s")
    finally:
        q.stop()
