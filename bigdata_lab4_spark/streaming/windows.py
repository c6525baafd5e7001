"""Event-time windows, one definition each for batch and stream: T1
tumbling, T2 sliding and T3 session windows, the watermark and
late-data policy (T4), stateful dedup (T5) and the append sink (T6).

Design notes (SURVEY §2.9): the batch queries ``t01_tumbling_window``,
``t02_sliding_window`` and ``t03_session_window`` (`queries/events.py`)
run :func:`tumbling_event_counts`, :func:`sliding_event_counts` and
:func:`session_event_counts` on the batch table, and the streaming
tests run the same functions on a replayed stream, so the two
definitions cannot drift apart. Each applies :data:`WATERMARK`, which
Spark drops from batch plans. What streaming adds is state semantics:

* ``withWatermark('ts', …)`` bounds the aggregation state — without
  it a 100 TB/day stream accumulates windows forever;
* rows older than the watermark are dropped (late-data policy);
* append output mode emits each window exactly once, when the
  watermark passes its end — which is what makes a parquet sink
  (immutable files) a valid target. A session window ends at its
  last event plus :data:`SESSION_GAP_S`.

The file source is the test harness's stand-in for Kafka: same
micro-batch execution, same state store, same watermark movement.
``Trigger.AvailableNow`` + ``maxFilesPerTrigger`` replays a directory
as a bounded multi-batch stream — watermarks only advance *between*
micro-batches, so a single-batch replay would emit nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_lab4_spark.catalog import SCHEMAS

#: How far behind the newest event time a row may arrive and still count.
WATERMARK = "10 minutes"

#: T3's inactivity gap, shared with the custom sessionizer (T7,
#: `streaming/stateful.py`): a session closes when no event of its user
#: follows the last one within this many seconds.
SESSION_GAP_S = 30 * 60

#: Bound on one drain of :func:`run_available_now`.
_DRAIN_TIMEOUT_S = 300


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of an events directory, read with the batch
    catalog's declared schema (``SCHEMAS["events"]``), so the stream and
    ``load_table(..., "events")`` have one schema and building the
    stream runs no Spark job. Each micro-batch takes one file, so a
    directory replays as a genuine multi-batch stream.

    ``path`` must be a directory (or a glob of them). A path that is a
    regular file, such as a testdata ``events.parquet``, raises
    ``ValueError`` here: one ``getFileStatus`` call, no Spark job. A
    path that does not exist as written is handed to Spark as before: a
    glob builds a stream, and a missing path raises Spark's own error.

    This reader does NOT touch session configuration (a reader
    mutating ``spark.sql.session.timeZone`` as a side effect leaks
    into every other query on the session): timezone semantics belong
    to the session owner — the engine's factory pins UTC, and the
    epoch-aligned windows downstream are timezone-independent for
    instant-typed ``ts`` columns anyway.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    # one getFileStatus; a path that is not found (a glob) reads as false
    if jpath.getFileSystem(spark._jsc.hadoopConfiguration()).isFile(jpath):
        raise ValueError(f"an events stream reads a directory, and {path} is a file")
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_event_counts(events: DataFrame) -> DataFrame:
    """T1: per-(1-hour window, event_type) count, sum and mean of
    ``value``. On a stream, state per (window, event_type) is dropped
    once the watermark passes the window end."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
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


def sliding_event_counts(events: DataFrame) -> DataFrame:
    """T2: count and sum of ``value`` per 1-hour window sliding every
    15 minutes; each event lands in 4 overlapping windows."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "n",
            "sum_value",
        )
    )


def session_event_counts(events: DataFrame) -> DataFrame:
    """T3: per-user sessions that close after :data:`SESSION_GAP_S` of
    inactivity, via Spark's native ``session_window`` (mergeable state,
    no global sort); start, event count and sum of ``value`` each."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.round(F.col("session_window.start").cast("double"), 6).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Streaming stateful dedup by ``event_id`` (T5's streaming form):
    ``dropDuplicatesWithinWatermark`` — the batch ``t05_dedup``'s
    ``dropDuplicates(['event_id'])`` with BOUNDED state.

    Plain streaming ``dropDuplicates`` keeps every key ever seen —
    unbounded state, a guaranteed OOM on a 100 TB/day stream.
    ``dropDuplicatesWithinWatermark`` evicts a key once the
    watermark passes its event time, trading completeness for a
    bound: a duplicate arriving *later* than the watermark delay is
    re-emitted (tests/test_streaming.py pins both behaviors). That
    is the right trade when duplicates come from retries/at-least-
    once sources, which cluster within seconds of the original.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(df: DataFrame, out_path: str, checkpoint_path: str) -> None:
    """Drain all currently-available input through the query and
    append results to a parquet sink (T6), then stop.  The
    checkpoint directory carries the state store + watermark, so a
    rerun resumes exactly-once instead of recomputing."""
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            raise TimeoutError(f"stream did not drain within {_DRAIN_TIMEOUT_S}s")
    finally:
        q.stop()
