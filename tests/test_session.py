"""Session factory tests: the generated-class cache holds a warm
neardup pass, so repeating the pass compiles no new class."""

from __future__ import annotations

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
