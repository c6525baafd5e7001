"""SQL entry point.

The reference's entire declarative-query surface is a SQL string
handed to ClickHouse (`/root/reference/src/database.py:41-51,80-88`).
The Spark-native equivalent is one line: ``spark.sql`` — parse
(ANTLR) → analyze (catalog binding) → Catalyst optimize → physical
plan → execute. ``run_sql`` is that entry point with the test tables
mounted.

The reference's online path is the other half: a per-request insert
and ``SELECT * FROM predictions ORDER BY timestamp DESC LIMIT n``,
which ClickHouse answers from sorted MergeTree parts. Here the
predictions store is a directory of one-row parquet files, each named
by its row's timestamp (:func:`_write_store_file`), so
:func:`top_k_predictions` answers from the newest ``limit`` names on
the driver, with no Spark job, as a MergeTree answers from its newest
parts.
"""

from __future__ import annotations

import datetime
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Row, SparkSession
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


def top_k_predictions(spark: SparkSession, path: str, limit: int = 10) -> list[Row]:
    """The reference's one real query, parameterized (no string
    interpolation — SURVEY §7.5): last-k rows newest first
    (the reference's `src/database.py:80-88`), answered on the driver
    with no Spark job.

    ``path`` is a predictions store written by :func:`insert_prediction`.
    One ``listStatus`` lists it, its names joined on the JVM side, so the
    listing costs a fixed number of py4j calls at any file count. Names
    starting with ``.`` or ``_`` are skipped, as Spark's reader skips
    them. Of the time-named files only the newest ``limit`` are read,
    since no older one can hold a newer row; every other visible file
    (Spark's own writer's, or an untimed ``part-<uuid>`` file) is read
    on every call. Each file is read through the store's FileSystem, so
    checksums are verified, and the rows are merged and sorted with
    pyarrow. Timestamps are converted as ``.collect()`` converts them,
    to naive local datetimes. A store that is missing raises.
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    fs, jdir = _store_fs(spark, path)
    client = jdir._gateway_client
    paths = JavaClass("org.apache.hadoop.fs.FileUtil", client).stat2Paths(fs.listStatus(jdir))
    listing = JavaClass("org.apache.commons.lang3.ArrayUtils", client).toString(paths)
    prefix = fs.makeQualified(jdir).toString().rstrip("/") + "/"
    names = listing[1 + len(prefix):-1].split("," + prefix) if listing != "{}" else []
    visible = [n for n in names if not n.startswith((".", "_"))]
    timed = sorted((n for n in visible if _TIME_NAMED.fullmatch(n)), reverse=True)
    wanted = timed[:limit] + [n for n in visible if not _TIME_NAMED.fullmatch(n)]
    tables = [_ARROW_SCHEMA.empty_table()]
    for name in wanted:
        stream = fs.open(jdir.suffix("/" + name))
        try:
            data = stream.readAllBytes()
        finally:
            stream.close()
        file = pq.ParquetFile(pa.BufferReader(data), coerce_int96_timestamp_unit="us")
        tables.append(file.read(columns=PREDICTIONS_SCHEMA.names).cast(_ARROW_SCHEMA))
    top = pa.concat_tables(tables).sort_by([("timestamp", "descending")]).slice(0, limit)
    micros = top.column("timestamp").cast(pa.int64()).to_pylist()
    rows = zip(micros, top.column("message").to_pylist(), top.column("prediction").to_pylist())
    return [PREDICTIONS_SCHEMA.fromInternal(r) for r in rows]


#: ``PREDICTIONS_SCHEMA`` in the store's files: non-null UTC-microsecond
#: timestamps, which Spark reads beside its own writer's INT96 files.
_ARROW_SCHEMA = to_arrow_schema(PREDICTIONS_SCHEMA)

#: A time-named store file: ``part-<UTC epoch µs, 20 digits>-<uuid hex>``;
#: the 20 digits make name order the rows' timestamp order.
_TIME_NAMED = re.compile(r"part-\d{20}-[0-9a-f]{32}\.zstd\.parquet")
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _store_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of a store, via the session's py4j bridge."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        raise TypeError(f"a predictions store needs a classic SparkSession, not {type(spark).__name__}")
    jpath = JavaClass("org.apache.hadoop.fs.Path", jvm._gateway_client)(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _write_store_file(spark: SparkSession, path: str, row: dict) -> None:
    """Commit ``row`` as one new parquet file under ``path``, with no
    Spark job. pyarrow encodes one row group without dictionary, column
    statistics or Arrow schema blob (in a one-row file each is only
    footer bytes). The path's own Hadoop FileSystem writes a hidden temp
    file and renames it to ``part-<µs>-<uuid>.zstd.parquet``, where
    ``<µs>`` is the row's own ``timestamp`` as 20-digit UTC epoch
    microseconds: name order is timestamp order with no lock, which lets
    :func:`top_k_predictions` read only the newest names. Readers skip
    ``.`` names, and the unique name leaves concurrent appends nothing
    to contend for. On failure the temp file is deleted and the error
    raised."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=_ARROW_SCHEMA), buf, compression="zstd",
                   use_dictionary=False, write_statistics=False, store_schema=False)
    data = buf.getvalue().to_pybytes()
    fs, jdir = _store_fs(spark, path)
    micros = (row["timestamp"] - _EPOCH) // datetime.timedelta(microseconds=1)
    name = f"{micros:020d}-{uuid.uuid4().hex}"
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
    as no rows. A path that cannot be a directory (a regular file is
    there) raises ``OSError``, chained from the FileSystem's own error
    when it raised one. A session without a py4j bridge (Spark Connect)
    raises ``TypeError``. Both fail at start-up."""
    fs, jpath = _store_fs(spark, path)
    try:
        made = fs.mkdirs(jpath)
    except Py4JJavaError as e:
        raise OSError(f"could not create the predictions store {path}") from e
    if not made:
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
