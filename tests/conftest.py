from __future__ import annotations

import contextlib
import os

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMOKE = "/root/testdata/sf0.001"

#: The LLM-data queries the benchmark's neardup workload runs.
NEARDUP_QUERIES = (
    "l01_exact_dedup",
    "l02b_minhash_lsh",
    "l03_knn_exact",
    "l03c_ivf_ann",
    "l07_simhash",
    "l07b_simhash_neardup",
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from bigdata_lab4_spark.session import get_spark

    s = get_spark(app_name="bigdata-lab4-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from bigdata_lab4_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@contextlib.contextmanager
def job_group(spark, name: str):
    """Run the body's Spark jobs under job group ``name``; yields a
    callable returning (jobs, tasks) of that group so far, read through
    the public StatusTracker."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def shape() -> tuple[int, int]:
        jobs = st.getJobIdsForGroup(name)
        tasks = sum(
            st.getStageInfo(sid).numTasks
            for jid in jobs
            for sid in st.getJobInfo(jid).stageIds
        )
        return len(jobs), tasks

    sc.setJobGroup(name, name)
    try:
        yield shape
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def py4j_calls(spark):
    """Yield a list that collects every py4j command the body sends.

    py4j's finalizer thread releases the JVM objects of garbage-collected
    proxies on its own schedule, so a release (``m``emory ``d``elete) can
    land inside any body; releases are not counted. A body that makes a
    JVM object sends the command that made it, which is counted."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME):
            calls.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command
