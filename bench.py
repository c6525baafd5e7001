#!/usr/bin/env python
"""Benchmark harness — runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced through the full plan with a noop sink by
``tools/profile.py``'s timing loop: no collect, so it measures engine
throughput, and the warm-up stays out of the samples.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative of every operator family, weighted toward the
# shapes that dominate at 100 TB: wide aggregation, star join,
# windows, event-time, text, dedup, similarity.
HEADLINE = [
    "a05_tpch_q1",
    "j02_star_join",
    "j07_asof_join",
    "a06_count_distinct",
    "w01_topk_per_group",
    "w03_running_agg",
    "t01_tumbling_window",
    "t03_session_window",
    "o01_topk_by_timestamp",
    "a08_term_frequency",
    "p03_clean_text",
    "l01_exact_dedup",
    "l03_knn_exact",
    "x02_quality_score",
    "f05_json_funcs",
    "s08_sql_passthrough",
    # r22 ADDITIONS (never remove/rename entries above — the driver
    # compares rounds by name): the query paths structurally rewritten
    # in the optimization rounds, so their regressions/wins are visible
    # to the driver's bench instead of only to ad-hoc A/B timing.
    "l02b_minhash_lsh",
    "l07b_simhash_neardup",
    "l07_simhash",
    "w05b_percentiles",
    "a04_classification_report",
    "a09_idf",
    "l03c_ivf_ann",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from bigdata_lab4_spark.session import get_spark
    from tools.profile import time_queries

    spark = get_spark(app_name="bigdata-lab4-bench")

    # Median of N runs per query: single-run timings on a shared machine
    # cannot distinguish load noise from real regressions. N defaults to
    # 5; override with SPARK_GRAFT_BENCH_RUNS (min 1).
    try:
        runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    except ValueError:
        # a garbled env var must not kill the bench — fall back to the
        # default methodology rather than crash before printing JSON
        runs = 5

    medians, spreads = time_queries(spark, sf_dir, HEADLINE, runs)
    print(
        json.dumps(
            {
                "metric": "declared-query suite wall-clock (median of %d)" % runs,
                "value": round(sum(medians.values()), 3),
                "unit": "sec",
                "queries": {n: round(v, 3) for n, v in medians.items()},
                "spread": {n: round(v, 3) for n, v in spreads.items()},
                "runs": runs,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
