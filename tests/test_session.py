"""Session factory tests: the master comes from spark-submit unless
``SPARK_GRAFT_CPUS`` names one, and the generated-class cache holds a
warm neardup pass, so repeating the pass compiles no new class."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark

import bigdata_lab4_spark.queries  # noqa: F401  (registers every query)
from bigdata_lab4_spark.registry import REGISTRY
from tests.conftest import NEARDUP_QUERIES, SF_DIR


def test_warm_neardup_pass_compiles_nothing(spark):
    """One pass of the six neardup queries needs more generated classes
    than Spark's default cache of 100 holds; with the factory's cap the
    second pass finds every class cached (Janino compiles counted by
    ``CodegenMetrics``)."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for name in NEARDUP_QUERIES:
            REGISTRY[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0


def test_spark_submit_master_is_kept(tmp_path):
    """Under ``spark-submit --master local[2]`` with ``SPARK_GRAFT_CPUS``
    unset, the factory's session runs on ``local[2]``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "master.py"
    script.write_text(
        f"import sys\nsys.path.insert(0, {repo!r})\n"
        "from bigdata_lab4_spark.session import get_spark\n"
        "spark = get_spark(app_name='submit-master')\n"
        "print('MASTER', spark.sparkContext.master)\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "1g", str(script)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MASTER local[2]" in out.stdout.splitlines()
