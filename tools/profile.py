#!/usr/bin/env python
"""Measure declared queries: noop-sink timings and executed plans.

Usage:
    python tools/profile.py time [runs] query [query ...]
    python tools/profile.py plan <out_dir> [query ...]

``time`` prints one JSON line ``{"timings": {query: median_s}, "spreads":
{query: max-min_s}, "runs": N}`` (N defaults to 5). ``plan`` executes each
query and writes its final AQE plan to ``<out_dir>/<query>.txt`` with the
numbers of ``#<n>`` expression ids and ``plan_id=<n>`` stripped, so two
captures compare with ``diff -r``; with no query names it covers every
registered query. Both read the tables at ``$SPARK_GRAFT_SF_DIR`` on
``local[$SPARK_GRAFT_CPUS]``.

``bench.py`` times its headline queries with :func:`time_queries`, and the
runtime plan pins in ``tests/test_plans.py`` read plans with
:func:`final_plan`, so every reported number comes from this one module.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

if __name__ == "__main__":
    # A script's own directory leads the path, where this file would
    # shadow the stdlib ``profile`` that cProfile (and so pyspark)
    # imports; the repo root takes its place.
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from bigdata_lab4_spark.catalog import DEFAULT_SF_DIR, load_table
from bigdata_lab4_spark.registry import REGISTRY
from bigdata_lab4_spark.session import get_spark
import bigdata_lab4_spark.queries  # noqa: F401


def time_queries(spark, sf_dir: str, names, runs: int):
    """``(medians, spreads)`` in seconds, keyed by query in ``names``
    order: each query's DataFrame is built once, then forced through
    the full plan ``runs`` times with a noop sink (engine throughput;
    no rows are collected). One ``lineitem`` count first keeps
    JVM, codegen and filesystem warm-up out of the first query."""
    load_table(spark, sf_dir, "lineitem").count()
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        medians[name] = statistics.median(samples)
        spreads[name] = max(samples) - min(samples)
    return medians, spreads


def final_plan(df) -> str:
    """Execute ``df``'s own QueryExecution and return its executed plan up
    to ``== Initial Plan ==``: the ``== Final Plan ==`` section. Exchange
    reuse and AQE's join choices are decided per query stage at runtime,
    so only this plan shows them; static ``explain`` prints one subtree
    per self-join branch."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    return qe.executedPlan().toString().split("== Initial Plan ==")[0]


def main(args: list[str]) -> None:
    cmd = args.pop(0) if args else None
    if cmd not in ("time", "plan") or (cmd == "plan" and not args):
        sys.exit(__doc__)
    spark = get_spark(app_name=f"profile-{cmd}")
    if cmd == "time":
        runs = int(args.pop(0)) if args and args[0].isdigit() else 5
        medians, spreads = time_queries(spark, DEFAULT_SF_DIR, args, runs)
        print(json.dumps({
            "timings": {n: round(v, 3) for n, v in medians.items()},
            "spreads": {n: round(v, 3) for n, v in spreads.items()},
            "runs": runs,
        }))
    else:
        out_dir, names = args[0], args[1:] or sorted(REGISTRY)
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                plan = final_plan(REGISTRY[name].fn(spark, DEFAULT_SF_DIR))
                f.write(re.sub(r"(?<=#)\d+|(?<=plan_id=)\d+", "", plan))
            print(f"captured {name}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
