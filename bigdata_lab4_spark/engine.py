"""SQL entry point.

The reference's entire declarative-query surface is a SQL string
handed to ClickHouse (`/root/reference/src/database.py:41-51,80-88`).
The Spark-native equivalent is one line: ``spark.sql`` — parse
(ANTLR) → analyze (catalog binding) → Catalyst optimize → physical
plan → execute. ``run_sql`` is that entry point with the test tables
mounted.
"""

from __future__ import annotations

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
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


def top_k_predictions(spark: SparkSession, path: str, limit: int = 10) -> DataFrame:
    """The reference's one real query, parameterized (no string
    interpolation — SURVEY §7.5): last-k rows newest first
    (`/root/reference/src/database.py:80-88`). Spark plans this as
    TakeOrderedAndProject — no global sort materialized.

    ``path`` is a parquet predictions store written by
    :func:`insert_prediction`, read with the known ``PREDICTIONS_SCHEMA``
    (no schema-inference job: one Spark job per call).
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    src = spark.read.schema(PREDICTIONS_SCHEMA).parquet(path)
    return src.orderBy("timestamp", ascending=False).limit(limit)


#: ``PREDICTIONS_SCHEMA`` in the store's files: non-null UTC-microsecond
#: timestamps, which Spark reads beside its own writer's INT96 files.
_ARROW_SCHEMA = to_arrow_schema(PREDICTIONS_SCHEMA)


def _store_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of a store, via the session's py4j bridge."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        raise TypeError(f"a predictions store needs a classic SparkSession, not {type(spark).__name__}")
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _write_store_file(spark: SparkSession, path: str, row: dict) -> None:
    """Commit ``row`` as one new parquet file under ``path``, with no
    Spark job. pyarrow encodes one row group without dictionary, column
    statistics or Arrow schema blob (in a one-row file each is only
    footer bytes). The path's own Hadoop FileSystem writes a hidden temp
    file and renames it to ``part-<uuid>.zstd.parquet``; readers skip
    ``.`` names, and the unique name leaves concurrent appends nothing
    to contend for. On failure the temp file is deleted and the error
    raised."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=_ARROW_SCHEMA), buf, compression="zstd",
                   use_dictionary=False, write_statistics=False, store_schema=False)
    data = buf.getvalue().to_pybytes()
    fs, jdir = _store_fs(spark, path)
    name = uuid.uuid4().hex
    tmp, part = jdir.suffix(f"/.{name}.tmp"), jdir.suffix(f"/part-{name}.zstd.parquet")
    try:
        out = fs.create(tmp, False)
        try:
            out.write(data)
        finally:
            out.close()
        if not fs.rename(tmp, part):
            raise OSError(f"could not rename {tmp} to {part}")
    except Exception:
        fs.delete(tmp, False)
        raise


def create_predictions_table(spark: SparkSession, path: str) -> None:
    """Create-if-not-exists for the predictions sink (SURVEY §2 S6),
    mirroring ``CREATE TABLE IF NOT EXISTS predictions``
    (`/root/reference/src/database.py:53-66`) — but as a parquet
    directory of one file per append, not a single-node MergeTree.

    One ``mkdirs`` on the path's FileSystem (HDFS/S3A/local): no Spark
    job and no file; :func:`top_k_predictions` reads the empty directory
    with the declared schema as no rows. A path that cannot be a
    directory (a regular file is there) raises: the FileSystem's own
    error, or ``OSError`` if ``mkdirs`` only returns false. A session
    without a py4j bridge (Spark Connect) raises ``TypeError``. Both
    fail at start-up."""
    fs, jpath = _store_fs(spark, path)
    if not fs.mkdirs(jpath):
        raise OSError(f"could not create the predictions store {path}")


def insert_prediction(
    spark: SparkSession, message: str, prediction: str, path: str
) -> None:
    """Append one served prediction with a server-side timestamp
    (SURVEY §2 S7) — the reference's per-request insert
    (`src/database.py:68-78`, called from `src/app.py:76`), with the
    driver's UTC clock, read once per append, for ``DEFAULT now()``.

    The row is one file committed by :func:`_write_store_file` before
    this returns: no Spark job, so no scheduling, writer set-up or job
    commit per request. An append to a missing path creates the
    directory; ``SentimentAPI`` creates the table once, at start-up.

    Scale note: one row per file is the *serving* shape, as in the
    reference. On a 4-core host the traced ``perfbench`` serve run
    measured the append at 11–16 ms (~120 ms as a one-task Spark job). A
    high-QPS deployment batches through the streaming sink
    (`bigdata_lab4_spark.streaming`) instead, amortizing a file over a
    micro-batch (SURVEY §4.3, row-at-a-time insert anti-pattern).
    """
    now = datetime.datetime.now(datetime.timezone.utc)
    _write_store_file(spark, path, {"timestamp": now, "message": message, "prediction": prediction})
