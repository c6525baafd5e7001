"""REST layer (S10) tests: real HTTP round-trips against the stdlib
server with a small fitted model, checking the reference's route
contract (`/root/reference/src/app.py:67-138`)."""

from __future__ import annotations

import collections
import datetime
import json
import logging
import os
import re
import socket
import struct
import sys
import threading
import time
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_lab4_spark import engine, serving
from bigdata_lab4_spark.engine import (
    PREDICTIONS_SCHEMA,
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
from tests.conftest import job_group, py4j_calls


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
    return SentimentPipeline().fit(df, tfidf_fit_df=df)


@pytest.fixture()
def served(spark, tiny_model, tmp_path):
    api = SentimentAPI(spark, tiny_model, predictions_path=str(tmp_path / "preds"))
    server, _ = api.start_background()
    yield server.server_address[1]
    server.shutdown()
    server.server_close()


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
        server.server_close()


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


def test_requests_run_on_the_pool_until_close(spark, tiny_model, tmp_path, monkeypatch):
    """Sequential requests reuse the pool's threads rather than start a
    new thread each; ``server_close()`` ends them."""
    api = SentimentAPI(spark, tiny_model, predictions_path=str(tmp_path / "preds"))
    ran_on, predict = [], api.predict

    def recording(message):
        ran_on.append(threading.current_thread())
        return predict(message)

    monkeypatch.setattr(api, "predict", recording)
    server, _ = api.start_background()
    try:
        for i in range(20):
            code, _ = _call(server.server_address[1], "POST", "/predict/", {"message": f"great {i}"})
            assert code == 200
    finally:
        server.shutdown()
        server.server_close()
    threads = set(ran_on)
    assert len(ran_on) == 20 and len(threads) <= server.pool._max_workers
    assert all(t.name.startswith("sentiment-api") for t in threads)
    assert not any(t.is_alive() for t in threads)


def test_idle_clients_are_dropped_after_the_read_timeout(
    spark, tiny_model, monkeypatch, caplog
):
    """One more idle connection than the pool has threads (each
    connected, nothing sent but, on one, the start of a ``/predict/``
    body) holds every thread and queues the next one; ``/predict/`` is
    still answered once their read timeout runs out. The stalled body is
    dropped like the silent clients: no 500 written, nothing logged. The
    timeout is lowered only to keep the test short."""
    assert serving.READ_TIMEOUT_S == 5  # the reference's uvicorn keep-alive
    monkeypatch.setattr(serving, "READ_TIMEOUT_S", 1)
    server, _ = SentimentAPI(spark, tiny_model).start_background()
    idle = []
    try:
        port = server.server_address[1]
        idle = [
            socket.create_connection(("127.0.0.1", port))
            for _ in range(server.pool._max_workers + 1)
        ]
        idle[0].sendall(
            b"POST /predict/ HTTP/1.1\r\nHost: x\r\nContent-Length: 10\r\n\r\n{}"
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/predict/", method="POST",
            data=json.dumps({"message": "great happy"}).encode(),
        )
        t0 = time.perf_counter()
        with urllib.request.urlopen(req, timeout=15) as resp:
            out = json.loads(resp.read())
        waited = time.perf_counter() - t0
        idle[0].settimeout(5)
        stalled = idle[0].recv(4096)
    finally:
        for sock in idle:
            sock.close()
        server.shutdown()
        server.server_close()
    assert out == {"sentiment": POSITIVE}
    assert waited < 1 + 3
    assert stalled == b""
    assert [r for r in caplog.records if r.name == serving.__name__] == []


def test_client_that_left_is_one_warning_not_a_failed_route(
    spark, tiny_model, monkeypatch, caplog, capfd
):
    """A client that closes its connection while its prediction runs:
    the 200 it can no longer receive is logged as one warning on the
    module logger, not as a failed route with a 500 written after it,
    and socketserver prints nothing to stderr."""
    api = SentimentAPI(spark, tiny_model)
    scored = threading.Event()
    left = threading.Event()

    def slow(message):
        scored.set()
        left.wait(10)
        return POSITIVE

    monkeypatch.setattr(api, "predict", slow)
    server, _ = api.start_background()
    capfd.readouterr()
    with caplog.at_level(logging.WARNING, logger=serving.__name__):
        try:
            sock = socket.create_connection(("127.0.0.1", server.server_address[1]))
            sock.sendall(
                b"POST /predict/ HTTP/1.1\r\nHost: x\r\nContent-Length: 2\r\n\r\n{}"
            )
            assert scored.wait(10)
            # linger 0: close with a reset, so the server's first write fails
            sock.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
            sock.close()
        finally:
            left.set()
            server.shutdown()
            server.server_close()  # waits for the request's thread
    records = [r for r in caplog.records if r.name == serving.__name__]
    assert [r.levelno for r in records] == [logging.WARNING]
    assert re.search(r"BrokenPipeError|ConnectionResetError", records[0].getMessage())
    assert "Traceback" not in capfd.readouterr().err


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
        server.server_close()
    assert code == 200 and out == {"sentiment": POSITIVE}
    assert api.failed_appends == 1
    warnings = [r for r in caplog.records if r.name == serving.__name__]
    assert len(warnings) == 1 and warnings[0].levelno == logging.WARNING
    assert "audit append" in warnings[0].getMessage()
    assert "store unavailable" in str(warnings[0].exc_info[1])


def test_audit_append_and_topk_run_no_job(spark, tmp_path):
    """The serving cost rests on this job shape: creating the store,
    an append and a top-k each run in the calling process; none runs a
    Spark job or sends a py4j command."""
    path = str(tmp_path / "preds")
    with job_group(spark, "test.serving_store") as shape, py4j_calls(spark) as calls:
        create_predictions_table(path)
        insert_prediction("warm up", "Positive sentiment", path)
        insert_prediction("great movie", "Positive sentiment", path)
        rows = top_k_predictions(limit=10, path=path)
    assert shape() == (0, 0) and calls == []
    assert [r["message"] for r in rows] == ["great movie", "warm up"]


def test_create_predictions_table_runs_no_job(spark, tmp_path):
    """Creating the store makes its directory from the driver: no Spark
    job, so no task and no Python worker, and no file. Create over a
    regular file raises ``OSError``, chained from pyarrow's error."""
    path = tmp_path / "preds"
    with job_group(spark, "test.create_predictions_table") as shape:
        create_predictions_table(str(path))
    assert shape() == (0, 0)
    assert path.is_dir() and os.listdir(path) == []
    taken = tmp_path / "taken"
    taken.write_text("not a store")
    with pytest.raises(OSError, match="could not create") as info:
        create_predictions_table(str(taken))
    assert isinstance(info.value.__cause__, FileExistsError)
    assert "non-directory entry exists" in str(info.value.__cause__)


def test_store_pyarrow_cannot_resolve_fails_at_start(spark, tiny_model):
    """A store URI that ``pyarrow.fs`` cannot resolve (Hadoop's
    ``s3a://``) is refused when the API starts, not on the first
    request."""
    with pytest.raises(OSError, match="could not create") as info:
        SentimentAPI(spark, tiny_model, predictions_path="s3a://b/x")
    assert "s3a://b/x" in str(info.value.__cause__)


def test_relative_store_path_resolves_against_the_cwd(spark, tiny_model, tmp_path, monkeypatch):
    """A path with no scheme is a local path; a relative one resolves
    against the working directory, as Hadoop resolved it."""
    monkeypatch.chdir(tmp_path)
    api = SentimentAPI(spark, tiny_model, predictions_path="rel/preds")
    assert (tmp_path / "rel" / "preds").is_dir()
    api.predict("great happy")
    assert [r["message"] for r in top_k_predictions("rel/preds")] == ["great happy"]
    assert len(os.listdir(tmp_path / "rel" / "preds")) == 1


def test_predict_500_is_logged(served, caplog):
    with caplog.at_level(logging.ERROR, logger=serving.__name__):
        code, out = _call(served, "POST", "/predict/", {"message": ""})
    assert code == 500 and out == {"detail": "Prediction failed"}
    errors = [r for r in caplog.records if r.name == serving.__name__]
    assert len(errors) == 1 and errors[0].levelno == logging.ERROR
    assert "/predict/" in errors[0].getMessage() and errors[0].exc_info


def test_predictions_500_is_logged(served, monkeypatch, caplog):
    def broken(*args, **kwargs):
        raise RuntimeError("scan failed")

    monkeypatch.setattr(serving, "top_k_predictions", broken)
    with caplog.at_level(logging.ERROR, logger=serving.__name__):
        code, out = _call(served, "POST", "/predictions/?limit=10")
    assert code == 500 and out == {"detail": "Failed to fetch predictions"}
    errors = [r for r in caplog.records if r.name == serving.__name__]
    assert len(errors) == 1 and errors[0].levelno == logging.ERROR
    assert "/predictions/" in errors[0].getMessage()
    assert "scan failed" in str(errors[0].exc_info[1])


def test_awkward_messages_round_trip_exactly(spark, served, tmp_path):
    """Messages come back byte-for-byte through the route and through
    a plain parquet reader, newest first."""
    path = str(tmp_path / "preds")  # the store ``served`` opened
    msgs = [
        "café naïve — 日本語",
        "great 😀🎉 day",
        'he said "great" and \'happy\'',
        "great\nhappy",
        "great happy " * 850,
    ]
    for m in msgs:
        insert_prediction(m, POSITIVE, path)
    code, out = _call(served, "POST", "/predictions/?limit=10")
    assert code == 200
    assert [p["message"] for p in out["predictions"]] == msgs[::-1]
    assert sorted(pq.read_table(path).column("message").to_pylist()) == sorted(msgs)


class _FailingFs:
    """A store ``pyarrow.fs`` FileSystem whose commit fails at ``step``."""

    def __init__(self, fs, step: str) -> None:
        self.fs, self.step = fs, step

    def __getattr__(self, name):
        return getattr(self.fs, name)

    def open_output_stream(self, path):
        out = self.fs.open_output_stream(path)
        if self.step != "write":
            return out

        class Stream:
            def __enter__(self):
                return self

            def __exit__(self, *exc):
                out.close()

            def write(self, data):
                raise OSError("disk full")

        return Stream()

    def move(self, src, dest):
        if self.step == "rename":
            raise OSError(f"could not move {src} to {dest}")
        self.fs.move(src, dest)


@pytest.mark.parametrize("step", ["write", "rename"])
def test_failed_commit_raises_and_leaves_no_file(tmp_path, monkeypatch, step):
    path = str(tmp_path / "preds")
    create_predictions_table(path)
    insert_prediction("kept", POSITIVE, path)
    before = sorted(os.listdir(path))
    store_fs = engine._store_fs

    def failing(path):
        fs, root = store_fs(path)
        return _FailingFs(fs, step), root

    monkeypatch.setattr(engine, "_store_fs", failing)
    with pytest.raises(OSError):
        insert_prediction("lost", NEGATIVE, path)
    # neither the part file nor the temp file remains
    assert sorted(os.listdir(path)) == before
    rows = top_k_predictions(limit=10, path=path)
    assert [r["message"] for r in rows] == ["kept"]


def test_store_from_sparks_own_writer_keeps_working(spark, tmp_path):
    """A store that already holds a file from Spark's parquet writer
    (INT96 timestamps) reads back with the driver-written files, through
    Spark and through pyarrow."""
    path = str(tmp_path / "preds")
    old = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    spark.createDataFrame([(old, "from spark", NEGATIVE)], PREDICTIONS_SCHEMA).coalesce(1).write.parquet(path)
    (spark_file,) = [n for n in os.listdir(path) if n.endswith(".parquet")]
    assert pq.ParquetFile(os.path.join(path, spark_file)).schema.column(0).physical_type == "INT96"
    create_predictions_table(path)  # the store exists: nothing added
    insert_prediction("first new", POSITIVE, path)
    insert_prediction("second new", NEGATIVE, path)

    rows = top_k_predictions(limit=10, path=path)
    assert [r["message"] for r in rows] == ["second new", "first new", "from spark"]
    assert rows[2]["timestamp"] == old
    table = pq.read_table(path)
    assert table.num_rows == 3
    by_msg = dict(
        zip(
            table.column("message").to_pylist(),
            table.column("timestamp").cast(pa.timestamp("us", tz="UTC")).to_pylist(),
        )
    )
    # collected timestamps are naive local time; pyarrow's are UTC
    for r in rows:
        assert by_msg[r["message"]] == r["timestamp"].astimezone(datetime.timezone.utc)


def test_topk_equals_sparks_read_on_a_mixed_store(spark, tmp_path):
    """Top-k over a store mixing every kind of file equals Spark's own
    read of it, sorted newest first: a multi-row file from Spark's
    writer (INT96), an untimed ``part-<uuid>`` file, time-named files,
    and hidden ``.tmp``, ``.crc`` and ``_SUCCESS`` files, which both
    readers skip. The Spark rows straddle the time-named ones, so the
    untimed files must be merged, not appended."""
    path = str(tmp_path / "preds")
    spark_rows = [
        (datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), "spark old", NEGATIVE),
        (datetime.datetime(2099, 1, 1, 0, 0, 0, 1), "spark future", POSITIVE),
        (datetime.datetime(2024, 6, 1, 12, 0, 0, 250000), None, NEGATIVE),
    ]
    spark.createDataFrame(spark_rows, PREDICTIONS_SCHEMA).coalesce(1).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    untimed = {"timestamp": datetime.datetime(2025, 3, 4, 5, 6, 7, 89, tzinfo=datetime.timezone.utc),
               "message": "untimed", "prediction": POSITIVE}
    pq.write_table(pa.Table.from_pylist([untimed], schema=engine._ARROW_SCHEMA),
                   os.path.join(path, f"part-{'0123456789abcdef' * 2}.zstd.parquet"), compression="zstd")
    (tmp_path / "preds" / ".0-abc.tmp").write_bytes(b"not parquet")
    for i in range(4):
        insert_prediction(f"timed {i}", POSITIVE if i % 2 else NEGATIVE, path)
    total = len(spark_rows) + 1 + 4
    oracle = spark.read.schema(PREDICTIONS_SCHEMA).parquet(path).orderBy(F.desc("timestamp"))
    for limit in (0, 1, 3, total + 5):
        want = oracle.limit(limit).collect()
        assert top_k_predictions(path=path, limit=limit) == want, limit
    assert len(want) == total and want[0]["message"] == "spark future"


def test_topk_reads_only_the_newest_limit_files(tmp_path, monkeypatch):
    """Top-k is O(limit) in files: one listing, and one open per row it
    returns, however many appends the store holds."""
    path = str(tmp_path / "preds")
    create_predictions_table(path)
    for i in range(50):
        insert_prediction(f"m{i}", POSITIVE, path)
    calls = collections.Counter()
    store_fs = engine._store_fs

    class CountingFs:
        def __init__(self, fs) -> None:
            self.fs = fs

        def __getattr__(self, name):
            calls[name] += 1
            return getattr(self.fs, name)

    def counting(path):
        fs, root = store_fs(path)
        return CountingFs(fs), root

    monkeypatch.setattr(engine, "_store_fs", counting)
    rows = top_k_predictions(limit=3, path=path)
    assert [r["message"] for r in rows] == ["m49", "m48", "m47"]
    assert (calls["get_file_info"], calls["open_input_file"]) == (1, 3)
