"""bench.py's output contract: its consumers read the one JSON line and
compare runs by query name, so the keys, the HEADLINE names and their
order must not change when the timing code behind them does."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bench import HEADLINE
from tests.conftest import SF_DIR_SMOKE

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def test_bench_prints_one_json_line_with_the_headline_queries(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR_SMOKE,
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_CPUS="2",
    )
    out = subprocess.run(
        [sys.executable, BENCH], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    rec = json.loads(lines[0])
    assert set(rec) == {"metric", "value", "unit", "queries", "spread", "runs", "sf"}
    assert list(rec["queries"]) == HEADLINE
    assert list(rec["spread"]) == HEADLINE
    assert rec["runs"] == 1 and rec["sf"] == 0.001 and rec["unit"] == "sec"
    # value is the rounded sum of the unrounded medians; each printed
    # median is rounded to 1 ms, so the two differ by at most half a ms
    # per query plus the total's own rounding
    assert abs(rec["value"] - sum(rec["queries"].values())) <= 0.0005 * (len(HEADLINE) + 1)
