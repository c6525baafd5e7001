"""REST layer (S10) tests: real HTTP round-trips against the stdlib
server with a small fitted model, checking the reference's route
contract (`/root/reference/src/app.py:67-138`)."""

from __future__ import annotations

import collections
import contextlib
import json
import logging
import sys
import threading
import urllib.request

import pyarrow.parquet as pq
import pytest

from bigdata_lab4_spark import serving
from bigdata_lab4_spark.engine import (
    create_predictions_table,
    insert_prediction,
    top_k_predictions,
)
from bigdata_lab4_spark.ml.pipeline import (
    NEGATIVE,
    POSITIVE,
    SentimentPipeline,
)
from bigdata_lab4_spark.serving import SentimentAPI


def _call(port: int, method: str, path: str, body: dict | None = None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def tiny_model(spark):
    """A fast-to-fit model whose signal words are unambiguous, so
    route tests can assert exact sentiments."""
    rows = [
        (i, i % 2, ("great fine happy" if i % 2 else "awful sad bad") + f" filler{i % 7}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["id", "label", "text"])
    return SentimentPipeline(max_features=100, stop_words=None).fit(df)


@pytest.fixture()
def served(spark, tiny_model, tmp_path):
    api = SentimentAPI(spark, tiny_model, predictions_path=str(tmp_path / "preds"))
    server, _ = api.start_background()
    yield server.server_address[1]
    server.shutdown()


def test_predict_roundtrip_and_audit_trail(served, spark):
    port = served
    code, out = _call(port, "POST", "/predict/", {"message": "great happy day"})
    assert code == 200 and out == {"sentiment": POSITIVE}
    code, out = _call(port, "POST", "/predict/", {"message": "awful sad day"})
    assert code == 200 and out == {"sentiment": NEGATIVE}

    code, out = _call(port, "POST", "/predictions/?limit=10")
    assert code == 200
    preds = out["predictions"]
    assert len(preds) == 2
    # newest first, reference row shape
    assert set(preds[0]) == {"timestamp", "message", "prediction"}
    assert preds[0]["timestamp"] >= preds[1]["timestamp"]
    assert {p["prediction"] for p in preds} == {POSITIVE, NEGATIVE}

    code, out = _call(port, "POST", "/predictions/?limit=1")
    assert code == 200 and len(out["predictions"]) == 1


def test_empty_message_is_500_prediction_failed(served):
    code, out = _call(served, "POST", "/predict/", {"message": ""})
    assert code == 500 and out == {"detail": "Prediction failed"}


def test_health_ready_and_404(served):
    code, out = _call(served, "GET", "/health/")
    assert code == 200 and out == {
        "status": "healthy",
        "model_loaded": True,
        "database_connected": True,
    }
    code, out = _call(served, "GET", "/ready/")
    assert code == 200 and out == {"status": "OK"}
    code, _ = _call(served, "GET", "/nope/")
    assert code == 404


def test_no_store_mode(spark, tiny_model):
    api = SentimentAPI(spark, tiny_model, predictions_path=None)
    server, _ = api.start_background()
    port = server.server_address[1]
    try:
        code, out = _call(port, "GET", "/health/")
        assert code == 200 and out["database_connected"] is False
        # predictions unavailable → 503, like the reference without a DB
        code, out = _call(port, "POST", "/predictions/")
        assert code == 503 and out == {"detail": "Database not available"}
        # predict still works, store append skipped
        code, out = _call(port, "POST", "/predict/", {"message": "great happy"})
        assert code == 200 and out == {"sentiment": POSITIVE}
    finally:
        server.shutdown()


def test_invalid_limit_422_payloads_distinguish_type_and_range(served):
    """r22 (ADVICE): a non-integer limit is a type failure, a negative
    limit a range failure — both 422 but with self-consistent
    FastAPI-style msg/type fields, never a range error labeled
    type_error."""
    code, out = _call(served, "POST", "/predictions/?limit=abc")
    assert code == 422
    assert out["detail"][0]["type"] == "type_error.integer"
    code, out = _call(served, "POST", "/predictions/?limit=-1")
    assert code == 422
    assert out["detail"][0]["type"] == "value_error.number.not_ge"
    assert "greater than or equal" in out["detail"][0]["msg"]


def test_predictions_on_fresh_store_is_empty_list(served):
    """The store is created when the API starts, so ``/predictions/``
    before any ``/predict/`` is an empty list, as in the reference —
    not a 500 for a path that does not exist yet."""
    code, out = _call(served, "POST", "/predictions/?limit=10")
    assert code == 200 and out == {"predictions": []}


def test_concurrent_predicts_store_every_acknowledged_row_once(spark, tiny_model, tmp_path):
    """Concurrent appends to one store must not lose or duplicate a row:
    the store's (message, prediction) multiset equals the acknowledged
    responses."""
    path = str(tmp_path / "preds")
    api = SentimentAPI(spark, tiny_model, predictions_path=path)
    server, _ = api.start_background()
    port = server.server_address[1]
    acked, lock = [], threading.Lock()

    def client(c: int) -> None:
        for i in range(8):
            msg = f"{'great happy' if i % 2 else 'awful sad'} client{c} req{i}"
            code, out = _call(port, "POST", "/predict/", {"message": msg})
            if code == 200:
                with lock:
                    acked.append((msg, out["sentiment"]))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
        server.shutdown()
    assert not any(t.is_alive() for t in threads)
    assert len(acked) == 32 and api.failed_appends == 0
    stored = pq.read_table(path).to_pydict()
    assert collections.Counter(zip(stored["message"], stored["prediction"])) == (
        collections.Counter(acked)
    )


def test_failed_append_is_logged_counted_and_still_served(
    spark, tiny_model, tmp_path, monkeypatch, caplog
):
    def broken(*args, **kwargs):
        raise OSError("store unavailable")

    monkeypatch.setattr(serving, "insert_prediction", broken)
    api = SentimentAPI(spark, tiny_model, predictions_path=str(tmp_path / "preds"))
    server, _ = api.start_background()
    try:
        with caplog.at_level(logging.WARNING, logger=serving.__name__):
            code, out = _call(
                server.server_address[1], "POST", "/predict/", {"message": "great happy"}
            )
    finally:
        server.shutdown()
    assert code == 200 and out == {"sentiment": POSITIVE}
    assert api.failed_appends == 1
    warnings = [r for r in caplog.records if r.name == serving.__name__]
    assert len(warnings) == 1 and warnings[0].levelno == logging.WARNING
    assert "audit append" in warnings[0].getMessage()
    assert "store unavailable" in str(warnings[0].exc_info[1])


@contextlib.contextmanager
def _job_group(spark, name: str):
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


def test_audit_append_is_one_task_and_topk_one_job(spark, tmp_path):
    """The serving cost rests on this job shape: an append is one job of
    one task (a parallelized one-row list runs ``defaultParallelism``
    tasks), and a top-k read is one job (no schema-inference job)."""
    path = str(tmp_path / "preds")
    create_predictions_table(spark, path)
    insert_prediction(spark, "warm up", "Positive sentiment", path)
    with _job_group(spark, "test.insert_prediction") as shape:
        insert_prediction(spark, "great movie", "Positive sentiment", path)
    assert shape() == (1, 1)
    with _job_group(spark, "test.top_k_predictions") as shape:
        rows = top_k_predictions(spark, limit=10, path=path).collect()
    assert shape()[0] == 1
    assert [r["message"] for r in rows] == ["great movie", "warm up"]
