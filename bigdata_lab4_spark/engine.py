"""SQL entry point.

The reference's entire declarative-query surface is a SQL string
handed to ClickHouse (`/root/reference/src/database.py:41-51,80-88`).
The Spark-native equivalent is one line: ``spark.sql`` — parse
(ANTLR) → analyze (catalog binding) → Catalyst optimize → physical
plan → execute. ``run_sql`` is that entry point with the test tables
mounted.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, StringType, TimestampType

from bigdata_lab4_spark.catalog import DEFAULT_SF_DIR, register_views

#: The reference's predictions table shape —
#: ``timestamp DateTime DEFAULT now(), message String, prediction
#: String`` (`/root/reference/src/database.py:53-60`).
PREDICTIONS_SCHEMA = StructType(
    [
        StructField("timestamp", TimestampType(), False),
        StructField("message", StringType(), True),
        StructField("prediction", StringType(), True),
    ]
)


def run_sql(spark: SparkSession, sql: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Execute an arbitrary SQL string over the mounted test tables
    (SURVEY §2 S8 — generic SQL passthrough)."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


def top_k_predictions(
    spark: SparkSession,
    table: str = "predictions",
    limit: int = 10,
    path: str | None = None,
) -> DataFrame:
    """The reference's one real query, parameterized (no string
    interpolation — SURVEY §7.5): last-k rows newest first
    (`/root/reference/src/database.py:80-88`). Spark plans this as
    TakeOrderedAndProject — no global sort materialized.

    ``path`` reads a parquet predictions table written by
    :func:`insert_prediction` with the known ``PREDICTIONS_SCHEMA``
    (no schema-inference job: one Spark job per call); without it,
    ``table`` resolves through the session catalog (temp view /
    warehouse table).
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    if path:
        src = spark.read.schema(PREDICTIONS_SCHEMA).parquet(path)
    else:
        src = spark.table(table)
    return src.orderBy("timestamp", ascending=False).limit(limit)


#: One lock per process around every create and append to a
#: predictions store. Concurrent appends to one parquet path share its
#: ``_temporary`` directory, and one job's commit deletes the other's
#: uncommitted files; the serving threads (ThreadingHTTPServer) take
#: turns instead.
_STORE_LOCK = threading.Lock()


def create_predictions_table(spark: SparkSession, path: str) -> None:
    """Create-if-not-exists for the predictions sink (SURVEY §2 S6),
    mirroring ``CREATE TABLE IF NOT EXISTS predictions``
    (`/root/reference/src/database.py:53-66`) — but as a parquet
    directory any number of executors can append to, not a
    single-node MergeTree.

    The existence check goes through the Hadoop FileSystem API, so it
    works on whatever filesystem ``path`` lives on (HDFS/S3A/local),
    not just the driver's local disk. In-process concurrency is
    serialized by ``_STORE_LOCK``; cross-process create-vs-append
    races are out of scope here, matching the reference's single
    ClickHouse DDL connection.

    The empty table comes from an empty RDD: it has no partitions, so
    no Python worker starts, and the write is one Spark job of one task
    (the footer file). Parallelizing an empty Python list instead runs
    ``defaultParallelism`` tasks and starts ``pyspark.daemon`` on a
    fresh session; avoiding that took the serve benchmark's ``setup_s``
    from 3.79 to 2.11 s (median of 10 runs each, 4-core host)."""
    with _STORE_LOCK:
        jvm = getattr(spark, "_jvm", None)
        if jvm is not None:
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.isDirectory(jpath):
                for st in fs.listStatus(jpath):
                    name = st.getPath().getName()
                    if name.endswith(".parquet") or name == "_SUCCESS":
                        return
            rows = spark.sparkContext.emptyRDD()
        else:
            # Spark Connect sessions expose no py4j bridge (_jvm /
            # _jsc are private classic-session API); fall back to a
            # driver-local path check so the local-filesystem case
            # keeps working. Remote filesystems under Connect would
            # need a server-side DDL instead — out of scope, matching
            # the reference's single ClickHouse DDL connection.
            if os.path.isdir(path) and any(
                n.endswith(".parquet") or n == "_SUCCESS"
                for n in os.listdir(path)
            ):
                return
            rows = []
        spark.createDataFrame(rows, PREDICTIONS_SCHEMA).write.mode("overwrite").parquet(path)


def insert_prediction(
    spark: SparkSession, message: str, prediction: str, path: str
) -> None:
    """Append one served prediction with a server-side timestamp
    (SURVEY §2 S7) — the reference's per-request insert
    (`src/database.py:68-78`, called from `src/app.py:76`), with
    ``current_timestamp()`` standing in for ClickHouse's
    ``DEFAULT now()``.

    The row is a one-row SQL relation with named parameters (no
    string interpolation), so the append is one Spark job of one task
    writing one parquet file; the append is committed when this
    returns. The table is created once, by whoever opens the store
    (:class:`~bigdata_lab4_spark.serving.SentimentAPI` at start-up);
    an append to a missing path creates the directory.

    Scale note: one row per write is the *serving* shape, exactly as
    in the reference. On a 4-core host the append measured ~170 ms
    warm (median of a traced ``perfbench`` serve run). Building the
    row with ``createDataFrame`` instead parallelizes a one-row list:
    a job of ``defaultParallelism`` tasks plus an empty file per
    append, ~540 ms on the same host. Appends in one process take
    turns on ``_STORE_LOCK``. A high-QPS deployment batches through
    the streaming sink (`bigdata_lab4_spark.streaming`) instead —
    parquet append amortizes across a micro-batch rather than paying
    a file per request (SURVEY §4.3, row-at-a-time insert
    anti-pattern).
    """
    row = spark.sql(
        "SELECT current_timestamp() AS timestamp,"
        " :message AS message, :prediction AS prediction",
        args={"message": message, "prediction": prediction},
    )
    with _STORE_LOCK:
        row.write.mode("append").parquet(path)
