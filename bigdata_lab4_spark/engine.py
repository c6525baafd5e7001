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
:func:`top_k_predictions` answers from the newest ``limit`` names, as a
MergeTree answers from its newest parts. The store is reached through
``pyarrow.fs``, not the session: no serving call runs a Spark job or
makes a py4j call, and Spark's batch reader reads the same files.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import re
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
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


def top_k_predictions(path: str, limit: int = 10) -> list[Row]:
    """The reference's one real query, parameterized (no string
    interpolation — SURVEY §7.5): last-k rows newest first
    (the reference's `src/database.py:80-88`), answered in the calling
    process with no Spark job.

    ``path`` is a predictions store written by :func:`insert_prediction`.
    One ``get_file_info`` lists it. Names starting with ``.`` or ``_``
    are skipped, as Spark's reader skips them. Of the time-named files
    only the newest ``limit`` are read, since no older one can hold a
    newer row; every other visible file (Spark's own writer's, INT96
    timestamps included, or an untimed ``part-<uuid>`` file) is read on
    every call. The rows are merged and sorted with pyarrow. Hadoop's
    ``.crc`` checksums are not verified. Timestamps are converted as
    ``.collect()`` converts them, to naive local datetimes. A store
    that is missing raises.
    """
    if not isinstance(limit, int) or limit < 0:
        raise ValueError("limit must be a non-negative int")
    fs, root = _store_fs(path)
    names = [info.base_name for info in fs.get_file_info(pafs.FileSelector(root))]
    visible = [n for n in names if not n.startswith((".", "_"))]
    timed = sorted((n for n in visible if _TIME_NAMED.fullmatch(n)), reverse=True)
    wanted = timed[:limit] + [n for n in visible if not _TIME_NAMED.fullmatch(n)]
    tables = [_ARROW_SCHEMA.empty_table()]
    for name in wanted:
        with fs.open_input_file(f"{root}/{name}") as f:
            file = pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
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


def _store_fs(path: str) -> tuple[pafs.FileSystem, str]:
    """``(FileSystem, path within it)`` of a store. A path with no
    scheme is a local path, made absolute against the working
    directory."""
    if not urlparse(path).scheme:
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _write_store_file(path: str, row: dict) -> None:
    """Commit ``row`` as one new parquet file under ``path``, with no
    Spark job. pyarrow encodes one row group without dictionary, column
    statistics or Arrow schema blob (in a one-row file each is only
    footer bytes). The store's ``pyarrow.fs`` FileSystem writes a hidden
    temp file and moves it to ``part-<µs>-<uuid>.zstd.parquet``, where
    ``<µs>`` is the row's own ``timestamp`` as 20-digit UTC epoch
    microseconds: name order is timestamp order with no lock, which lets
    :func:`top_k_predictions` read only the newest names. Readers skip
    ``.`` names, and the unique name leaves concurrent appends nothing
    to contend for. No Hadoop ``.crc`` file is written; Spark reads a
    file that has none. On failure the temp file is deleted and the
    error raised."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=_ARROW_SCHEMA), buf, compression="zstd",
                   use_dictionary=False, write_statistics=False, store_schema=False)
    fs, root = _store_fs(path)
    micros = (row["timestamp"] - _EPOCH) // datetime.timedelta(microseconds=1)
    name = f"{micros:020d}-{uuid.uuid4().hex}"
    tmp = f"{root}/.{name}.tmp"
    try:
        with fs.open_output_stream(tmp) as out:
            out.write(buf.getvalue())
        fs.move(tmp, f"{root}/part-{name}.zstd.parquet")
    except Exception:
        with contextlib.suppress(OSError):
            fs.delete_file(tmp)
        raise


def create_predictions_table(path: str) -> None:
    """Create-if-not-exists for the predictions sink (SURVEY §2 S6),
    mirroring ``CREATE TABLE IF NOT EXISTS predictions``
    (`/root/reference/src/database.py:53-66`) — but as a parquet
    directory of one file per append, not a single-node MergeTree.

    One ``create_dir`` on the path's ``pyarrow.fs`` FileSystem: no Spark
    job and no file; :func:`top_k_predictions` reads the empty directory
    as no rows. A path with no scheme is always the local disk, not
    Hadoop's ``fs.defaultFS``. A path that cannot be a store raises
    ``OSError``, chained from pyarrow's error: a regular file is there,
    or pyarrow cannot resolve its scheme (``s3a://``, or ``hdfs://``
    without libhdfs). Either way the failure comes at start-up, not on
    the first request."""
    try:
        fs, root = _store_fs(path)
        fs.create_dir(root, recursive=True)
    except (OSError, pa.ArrowException) as e:
        raise OSError(f"could not create the predictions store {path}") from e


def insert_prediction(message: str, prediction: str, path: str) -> None:
    """Append one served prediction with a server-side timestamp
    (SURVEY §2 S7) — the reference's per-request insert
    (`src/database.py:68-78`, called from `src/app.py:76`), with the
    process's UTC clock, read once per append, for ``DEFAULT now()``.

    The row is one file committed by :func:`_write_store_file` before
    this returns: no Spark job, so no scheduling, writer set-up or job
    commit per request. The store must exist: ``SentimentAPI`` creates
    the table once, at start-up, and an append to a missing store raises
    ``FileNotFoundError``.

    Scale note: one row per file is the *serving* shape, as in the
    reference. On a 4-core host the append's median was 0.54–0.63 ms
    (over 10 and over 1,000 appends in one process), against 11–16 ms
    through Hadoop's FileSystem over py4j and ~120 ms as a one-task
    Spark job. Nothing merges the files yet, so the store's file count
    grows with the appends (SURVEY §4.3, row-at-a-time insert
    anti-pattern).
    """
    now = datetime.datetime.now(datetime.timezone.utc)
    _write_store_file(path, {"timestamp": now, "message": message, "prediction": prediction})
