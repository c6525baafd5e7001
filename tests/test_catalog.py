"""Catalog tests: the declared table schemas (``catalog.SCHEMAS``) match
every testdata generation, a physical type other than the declared one
fails the read, and mounting and planning run no Spark job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

import bigdata_lab4_spark.queries  # noqa: F401  (registers every query)
from bigdata_lab4_spark.catalog import SCHEMAS, TABLES, load_table, register_views
from bigdata_lab4_spark.registry import REGISTRY
from tests.conftest import NEARDUP_QUERIES, SF_DIR, SF_DIR_SMOKE, job_group


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_the_data(spark, sf):
    """Each declared schema is the footers' inferred one, except that
    ``events.ts`` is declared as the instant type ``timestamp`` over the
    zone-less ``timestamp[us]`` the files hold; its values are the raw
    micros, read as UTC."""
    sf_dir = os.path.join("/root/testdata", sf)
    for name in SCHEMAS:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        if name == "events":
            assert inferred["ts"].dataType == TimestampNTZType()
            inferred = StructType(
                [StructField("ts", TimestampType()) if f.name == "ts" else f for f in inferred]
            )
        assert load_table(spark, sf_dir, name).schema == inferred, name

    raw = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id", "ts"])
    assert raw.schema.field("ts").type == pa.timestamp("us")
    want = dict(zip(raw["event_id"].to_pylist(), raw["ts"].cast(pa.int64()).to_pylist()))
    micros = load_table(spark, sf_dir, "events").selectExpr("event_id", "unix_micros(ts)")
    for tz in ("UTC", "America/Los_Angeles"):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            assert dict(tuple(r) for r in micros.collect()) == want, tz
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_declared_schema_type_mismatch_raises(spark, tmp_path):
    """A physical type that differs from the declared one fails the read
    instead of being converted: ``array<double>`` embeddings, and an
    ``events.ts`` written as ``timestamp[ns]``. A missing column reads
    as nulls (the documented limit of ``load_table``)."""
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0, 1], pa.int64()),
                "embedding": pa.array([[0.5, 0.25], [1.0, 0.0]], pa.list_(pa.float64())),
                "label": pa.array([0, 1], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0], pa.int64()),
                "ts": pa.array([1_700_000_000 * 10**9 + 999], pa.timestamp("ns")),
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["view"]),
                "value": pa.array([1.0]),
                "props": pa.array(["{}"]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    for name in ("embeddings", "events"):
        with pytest.raises(Py4JJavaError, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            load_table(spark, str(tmp_path), name).collect()

    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}),
        str(tmp_path / "region.parquet"),
    )
    rows = load_table(spark, str(tmp_path), "region").collect()
    assert [tuple(r) for r in rows] == [(0, None), (1, None)]


def test_planning_runs_no_spark_job(spark, tmp_path):
    """Mounting a fresh sf dir, and building each neardup query's
    DataFrame without an action, run no Spark job at all."""
    fresh = tmp_path / "sf"
    fresh.mkdir()
    for name in TABLES:
        shutil.copy(
            os.path.join(SF_DIR_SMOKE, f"{name}.parquet"), fresh / f"{name}.parquet"
        )
    with job_group(spark, "test.register_views") as mount:
        register_views(spark, str(fresh))
    shapes = {}
    for name in NEARDUP_QUERIES:
        with job_group(spark, f"test.plan.{name}") as shapes[name]:
            REGISTRY[name].fn(spark, SF_DIR)
    assert mount()[0] == 0
    assert {name: shape()[0] for name, shape in shapes.items()} == dict.fromkeys(
        NEARDUP_QUERIES, 0
    )

