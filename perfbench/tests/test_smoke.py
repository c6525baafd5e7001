"""End-to-end smoke of every workload at tiny size (sf0.001 tables, a
thousand training rows, a few dozen requests), plus the agreement of
BENCHMARK.json with the command's own metric lists."""

import json
import os
import subprocess
import sys

import pytest

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run._per_layer()


@pytest.fixture(scope="module")
def smoke_runs():
    procs = {
        (wl, trace, clients): subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "1",
             "--seconds", "1", "--trace", str(trace), "--smoke", "--clients", str(clients)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for wl, trace, clients in (("serve", 0, 1), ("serve", 0, 2), ("neardup", 1, 1))
    }
    out = {}
    for key, p in procs.items():
        stdout, _ = p.communicate(timeout=170)
        out[key] = (p.returncode, stdout.strip().splitlines(), json.loads(stdout.strip().splitlines()[-1]))
    return out


def test_smoke_neardup_traced_is_correct_and_complete(smoke_runs):
    code, lines, res = smoke_runs[("neardup", 1, 1)]
    assert res["correct"] and code == 0, lines
    assert res["failed"] == 0 and res["attempted"] >= 12
    assert set(res["metrics"]) == {n for n, _ in run._per_layer()}
    assert res["metrics"]["queries.l02b_minhash_lsh.exec_s"]["value"] > 0
    assert res["metrics"]["queries.l02b_minhash_lsh.tasks"]["value"] > 0


def test_smoke_serve_is_correct_and_reports_every_end_to_end_metric(smoke_runs):
    code, lines, res = smoke_runs[("serve", 0, 1)]
    assert res["correct"] and code == 0, lines
    assert res["failed"] == 0 and res["attempted"] >= 10
    assert set(res["metrics"]) == {n for n, _ in run.END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.xfail(reason="concurrent /predict/ appends to one parquet path share its "
                          "_temporary directory, so some acknowledged rows are lost", strict=False)
def test_smoke_serve_two_clients_store_holds_every_acknowledged_prediction(smoke_runs):
    code, lines, res = smoke_runs[("serve", 0, 2)]
    assert res["failed"] == 0
    assert res["correct"] and code == 0, lines
