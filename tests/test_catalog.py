"""Catalog tests: the declared table schemas (``catalog.SCHEMAS``) match
every testdata generation, mounting and planning run no schema-inference
jobs, and the ``events`` branch normalises both physical ``ts`` types."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

import bigdata_lab4_spark.queries  # noqa: F401  (registers every query)
from bigdata_lab4_spark.catalog import SCHEMAS, TABLES, load_table, register_views
from bigdata_lab4_spark.registry import REGISTRY
from tests.conftest import NEARDUP_QUERIES, SF_DIR, SF_DIR_SMOKE, job_group


def test_schemas_cover_every_table_but_events():
    assert set(SCHEMAS) == set(TABLES) - {"events"}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_the_data(spark, sf):
    sf_dir = os.path.join("/root/testdata", sf)
    for name in SCHEMAS:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


def test_declared_schema_type_mismatch_raises(spark, tmp_path):
    """A physical type that differs from the declared one fails the read
    instead of being converted; a missing column reads as nulls (the
    documented limit of ``load_table``)."""
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
    with pytest.raises(Py4JJavaError, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str(tmp_path), "embeddings").collect()

    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}),
        str(tmp_path / "region.parquet"),
    )
    rows = load_table(spark, str(tmp_path), "region").collect()
    assert [tuple(r) for r in rows] == [(0, None), (1, None)]


def test_planning_runs_no_spark_job(spark, tmp_path):
    """Mounting a fresh sf dir infers only ``events`` (≤ 1 job), and
    building each neardup query's DataFrame, without an action, runs no
    job at all."""
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
    assert mount()[0] <= 1
    assert {name: shape()[0] for name, shape in shapes.items()} == dict.fromkeys(
        NEARDUP_QUERIES, 0
    )


def test_events_nanos_ts_truncates_to_micros(spark, tmp_path):
    """Older testdata generations wrote ``events.ts`` as TIMESTAMP(NANOS).
    ``load_table`` reads it as µs timestamps by integer division, which
    truncates as DuckDB's reader does (double division would round)."""
    second_ns = 1_700_000_000 * 10**9
    offsets_ns = [0, 999, 1_999, 999_999, 1_000_500]
    path = tmp_path / "events.parquet"
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(offsets_ns)), pa.int64()),
                "ts": pa.array([second_ns + o for o in offsets_ns], pa.timestamp("ns")),
                "user_id": pa.array([7] * len(offsets_ns), pa.int64()),
                "event_type": pa.array(["view"] * len(offsets_ns)),
                "value": pa.array([1.0] * len(offsets_ns)),
                "props": pa.array(["{}"] * len(offsets_ns)),
            }
        ),
        str(path),
    )
    assert pq.read_schema(str(path)).field("ts").type == pa.timestamp("ns")
    events = load_table(spark, str(tmp_path), "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    got = [
        r[0] for r in events.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
    ]
    assert got == [(second_ns + o) // 1000 for o in offsets_ns]
