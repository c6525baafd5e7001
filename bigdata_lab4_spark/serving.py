"""REST serving layer (SURVEY §2 S10).

The reference serves FastAPI + uvicorn
(`/root/reference/src/app.py:67-138`); neither ships in this
container, so the same routes run on the stdlib ``http.server``.
Route paths, methods, payload shapes and status codes mirror the
reference:

* ``POST /predict/``     body ``{"message": str}`` →
  ``{"sentiment": str}``; the prediction is also appended to the
  predictions store when one is configured
  (`src/app.py:68-87`);
* ``POST /predictions/?limit=k`` →
  ``{"predictions": [{"timestamp", "message", "prediction"}]}``,
  newest first (`src/app.py:89-108`); 503 when no store is
  configured (reference: database unavailable);
* ``GET /health/``  → ``{"status", "model_loaded",
  "database_connected"}`` (`src/app.py:123-131`);
* ``GET /ready/``   → ``{"status": "OK"}`` (`src/app.py:133-135`).

The reference's ``/vault-status/`` route reports its secrets
backend; there is no secrets backend here (configuration is plain
constructor arguments), so the route is intentionally absent.

Scale notes: serving is a *driver-side* concern. ``predict_one``
scores against the broadcast-sized local parameter copy (O(classes ×
``MAX_FEATURES``) floats) — no Spark job per request, so request latency
is microseconds of Python, not a cluster round-trip. Only the audit
trail touches storage: the per-request parquet append mirrors the
reference's per-request ClickHouse insert. Each append is one parquet
file, named by its timestamp, that the process encodes and commits
through ``pyarrow.fs`` before the response (a median of ~0.6 ms on a
4-core host); ``/predictions/`` lists the store once and reads only the
newest ``limit`` of those files. No route runs a Spark job or makes a
py4j call. The store is created once, when the API starts, so
``/predictions/`` on a fresh store is an empty list. A failed append is
logged and counted (``failed_appends``), and the prediction is still
served; every 500 is logged with its traceback. Every append adds a
file and nothing merges them, so the store's file count grows with the
requests served.

Threads: each request runs on one long-lived ``ThreadPoolExecutor`` of
default size (``min(32, cpus + 4)`` threads), not on a new thread of
its own as in ``ThreadingHTTPServer``. Scoring takes microseconds, so a
thread start is a large share of a request; the pool saves it. The pool
bounds the requests in flight, and a client that holds its connection
open without sending holds a pool thread. Each connection's socket
therefore has a read timeout, :data:`READ_TIMEOUT_S` (the reference's
uvicorn closes an idle keep-alive connection after the same 5 s): a
client that sends nothing, or stops part-way through its request body,
is dropped quietly when it runs out, so as many idle clients as
the pool has threads (8 on a 4-core host) delay the service by at most
that long instead of stopping it. Nothing yet bounds the queue of
accepted connections or counts the dropped ones. A client that leaves
before its response is written is logged as one warning, not as a
failed route. ``server_close()`` shuts the pool down.
"""

from __future__ import annotations

import json
import logging
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

# the traced benchmark run (perfbench/run.py) wraps these where they are
# looked up: the two route calls here, create_predictions_table on engine
from bigdata_lab4_spark import engine
from bigdata_lab4_spark.engine import insert_prediction, top_k_predictions

logger = logging.getLogger(__name__)

#: Seconds a connection may sit without sending before it is dropped.
READ_TIMEOUT_S = 5


class _PooledHTTPServer(ThreadingHTTPServer):
    """``ThreadingHTTPServer`` that runs each request on one long-lived
    thread pool (see the module doc); ``server_close()`` shuts it down."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.pool = ThreadPoolExecutor(thread_name_prefix="sentiment-api")

    def process_request(self, request, client_address) -> None:
        # process_request_thread reports the request's errors and closes
        # its socket itself, so the future holds no result to read
        self.pool.submit(self.process_request_thread, request, client_address)

    def handle_error(self, request, client_address) -> None:
        # an exception that escaped the handler, in flight: a route's
        # own failures are answered inside it, so this is a client that
        # left mid-request or before its response was written
        # (socketserver's default prints a traceback to stderr)
        exc = sys.exc_info()[1]
        logger.warning(
            "connection from %s:%s ended: %r", *client_address[:2], exc,
            exc_info=not isinstance(exc, ConnectionError),
        )

    def server_close(self) -> None:
        super().server_close()
        self.pool.shutdown()


class SentimentAPI:
    """HTTP facade over a fitted :class:`~bigdata_lab4_spark.ml.
    SentimentModel` plus the predictions store.

    ``predictions_path=None`` runs model-only (health reports
    ``database_connected: false``, ``/predictions/`` returns 503) —
    the reference behaves the same when ClickHouse is unreachable
    (`src/app.py:62-65`: "Continuing without database support").
    With a store, the table is created here, once, as the reference
    creates its table at start-up; a path that cannot be a store (a
    regular file, or a scheme ``pyarrow.fs`` cannot resolve, such as
    ``s3a://``) raises ``OSError`` here. ``spark`` is kept on the
    instance for callers that read it; no route uses it.

    ``failed_appends`` counts the audit appends that raised.
    """

    def __init__(
        self,
        spark: SparkSession,
        model,
        predictions_path: str | None = None,
    ) -> None:
        self.spark = spark
        self.model = model
        self.predictions_path = predictions_path
        self.failed_appends = 0
        self._count_lock = threading.Lock()
        if predictions_path is not None:
            engine.create_predictions_table(predictions_path)

    # -- route bodies (transport-free, unit-testable) ------------------

    def predict(self, message: str) -> str:
        result = self.model.predict_one(message)
        if self.predictions_path is not None:
            # best-effort audit append, like the reference's guarded
            # insert (`src/app.py:74-79`): a store failure must not
            # fail the prediction response, but it is logged and counted
            try:
                insert_prediction(message, result, self.predictions_path)
            except Exception:
                with self._count_lock:
                    self.failed_appends += 1
                logger.warning(
                    "audit append to %s failed; prediction served anyway",
                    self.predictions_path,
                    exc_info=True,
                )
        return result

    def predictions(self, limit: int = 10) -> list[dict]:
        if self.predictions_path is None:
            raise LookupError("predictions store not configured")
        rows = top_k_predictions(limit=limit, path=self.predictions_path)
        return [
            {
                "timestamp": r["timestamp"].isoformat(),
                "message": r["message"],
                "prediction": r["prediction"],
            }
            for r in rows
        ]

    def health(self) -> dict:
        return {
            "status": "healthy",
            "model_loaded": self.model is not None,
            "database_connected": self.predictions_path is not None,
        }

    # -- HTTP transport ------------------------------------------------

    def make_server(self, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
        """Build (don't start) the HTTP server; ``port=0`` binds an
        ephemeral port (``server.server_address[1]``)."""
        api = self

        class Handler(BaseHTTPRequestHandler):
            timeout = READ_TIMEOUT_S

            def log_message(self, fmt, *args):  # quiet test output
                pass

            def _json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:
                route = urlparse(self.path).path.rstrip("/")
                if route == "/health":
                    self._json(200, api.health())
                elif route == "/ready":
                    self._json(200, {"status": "OK"})
                else:
                    self._json(404, {"detail": "Not Found"})

            def do_POST(self) -> None:
                parsed = urlparse(self.path)
                route = parsed.path.rstrip("/")
                if route == "/predict":
                    try:
                        n = int(self.headers.get("Content-Length", 0))
                        payload = json.loads(self.rfile.read(n) or b"{}")
                        result = api.predict(payload.get("message", ""))
                    except (ConnectionError, TimeoutError):
                        # the body read: a client that left or stalled is
                        # dropped (handle_error, or quietly on timeout)
                        raise
                    except Exception:
                        # reference: any failure → 500 "Prediction
                        # failed" (`src/app.py:85-87`)
                        logger.exception("POST /predict/ failed")
                        self._json(500, {"detail": "Prediction failed"})
                    else:
                        self._json(200, {"sentiment": result})
                elif route == "/predictions":
                    raw = parse_qs(parsed.query).get("limit", ["10"])[0]
                    # validation failure is the client's fault → 422,
                    # matching FastAPI's query-param validation on the
                    # reference route (`src/app.py:89-95`), not a 500.
                    # Non-integers and negatives get distinct
                    # FastAPI-style error payloads (a range failure
                    # must not be mislabeled as a type failure).
                    try:
                        limit = int(raw)
                    except ValueError:
                        self._json(
                            422,
                            {
                                "detail": [
                                    {
                                        "loc": ["query", "limit"],
                                        "msg": "value is not a valid integer",
                                        "type": "type_error.integer",
                                    }
                                ]
                            },
                        )
                        return
                    if limit < 0:
                        self._json(
                            422,
                            {
                                "detail": [
                                    {
                                        "loc": ["query", "limit"],
                                        "msg": "ensure this value is greater than or equal to 0",
                                        "type": "value_error.number.not_ge",
                                    }
                                ]
                            },
                        )
                        return
                    try:
                        rows = api.predictions(limit)
                    except LookupError:
                        self._json(503, {"detail": "Database not available"})
                    except Exception:
                        logger.exception("POST /predictions/ failed")
                        self._json(500, {"detail": "Failed to fetch predictions"})
                    else:
                        self._json(200, {"predictions": rows})
                else:
                    self._json(404, {"detail": "Not Found"})

        return _PooledHTTPServer((host, port), Handler)

    def start_background(
        self, host: str = "127.0.0.1", port: int = 0
    ) -> tuple[ThreadingHTTPServer, threading.Thread]:
        """Start serving on a daemon thread; returns (server, thread).
        Stop with ``server.shutdown()``, then ``server.server_close()``
        to end the request threads."""
        server = self.make_server(host, port)
        thread = threading.Thread(target=server.serve_forever, daemon=True)
        thread.start()
        return server, thread
