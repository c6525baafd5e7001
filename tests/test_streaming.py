"""Streaming window tests (T4 watermark/late-data, T6 append sink),
stream-vs-batch equality of the shared T1–T3 definitions and of the
T7 sessionizer, plus the predictions write path (S6/S7).

The streaming scenario is built from hand-written parquet files so
watermark movement is fully deterministic: three files replayed
oldest-first with ``maxFilesPerTrigger=1`` become three micro-
batches; the watermark computed from batch N gates batch N+1.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta, timezone

import pytest

from bigdata_lab4_spark.catalog import load_table
from bigdata_lab4_spark.engine import (
    create_predictions_table,
    insert_prediction,
    top_k_predictions,
)
from bigdata_lab4_spark.queries.events import t02_sliding_window, t03_session_window
from bigdata_lab4_spark.streaming import (
    dedup_events_stream,
    read_events_stream,
    run_available_now,
    session_event_counts,
    sessionize_stream,
    sliding_event_counts,
    tumbling_event_counts,
)
from bigdata_lab4_spark.streaming.windows import SESSION_GAP_S
from tests.conftest import SF_DIR_SMOKE, job_group


def _ts(h: int, m: int, s: int = 0, us: int = 0) -> datetime:
    return datetime(2026, 1, 15, h, m, s, us, tzinfo=timezone.utc)


def _utc(t: datetime) -> datetime:
    """A collected timestamp (naive, in the host's local zone) as an
    aware UTC datetime."""
    return t.astimezone(timezone.utc)


def _write_batches(spark, src: str, files: list, cols: list[str]) -> None:
    """One parquet directory per micro-batch under ``src``, stamped
    oldest-first: ``read_events_stream`` replays one file per trigger,
    in modification-time order."""
    for i, rows in enumerate(files):
        path = os.path.join(src, f"f{i}")
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(path)
        for root, _, names in os.walk(path):
            for n in names:
                os.utime(os.path.join(root, n), (1000 + i, 1000 + i))


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    """Replay five event files as five micro-batches.

    * f0: hour-10 events → watermark advances to 10:49 for later
      batches
    * f1: a 12:30 event → watermark 12:20, which closes and emits
      the [10:00, 11:00) window
    * f2: a 14:00 event → watermark 13:50, closes [12:00, 13:00)
    * f3: a LATE 10:20 event — its [10:00, 11:00) window was emitted
      and evicted two batches ago; append mode can never re-emit a
      window, so the row MUST be dropped
      (``numRowsDroppedByWatermark``), not aggregated
    * f4: a 16:00 event → watermark 15:50; the final no-data
      micro-batch (``noDataMicroBatches``, on by default) flushes
      the now-closed [14:00, 15:00) window

    The [16:00, 17:00) window is still open when input runs dry, so
    it must NOT be in the sink; no emitted aggregate may include the
    late value=100 row.
    """
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "events_src")
    cols = ["ts", "event_type", "value"]
    files = [
        [( _ts(10, 0), "click", 1.0), (_ts(10, 30), "click", 2.0), (_ts(10, 59), "view", 10.0)],
        [( _ts(12, 30), "click", 4.0)],
        [( _ts(14, 0), "view", 8.0)],
        [( _ts(10, 20), "click", 100.0)],  # late: window already emitted
        [( _ts(16, 0), "view", 1.0)],
    ]
    _write_batches(spark, src, files, cols)

    stream = read_events_stream(spark, src + "/*/")
    agg = tumbling_event_counts(stream)
    out, cp = str(base / "out"), str(base / "cp")
    run_available_now(agg, out, cp)
    return spark.read.parquet(out).collect()


def test_watermark_finalizes_closed_windows_only(stream_result):
    starts = {r["window_start"] for r in stream_result}
    # every window whose end <= the final 15:50 watermark is emitted
    # (10:00, 12:00, 14:00); the 16:00 window was still open when
    # the stream drained, so append mode never released it.
    assert starts == {
        int(_ts(10, 0).timestamp()),
        int(_ts(12, 0).timestamp()),
        int(_ts(14, 0).timestamp()),
    }


def test_late_row_dropped_from_emitted_window(stream_result):
    rows = {(r["window_start"], r["event_type"]): r for r in stream_result}
    # the late 10:20/value=100 row arrived after its window was
    # emitted and evicted — it must not appear in any aggregate
    click10 = rows[(int(_ts(10, 0).timestamp()), "click")]
    assert click10["n"] == 2
    assert click10["sum_value"] == pytest.approx(3.0)
    view10 = rows[(int(_ts(10, 0).timestamp()), "view")]
    assert view10["n"] == 1 and view10["sum_value"] == pytest.approx(10.0)
    click12 = rows[(int(_ts(12, 0).timestamp()), "click")]
    assert click12["n"] == 1 and click12["sum_value"] == pytest.approx(4.0)


def test_streaming_matches_batch_plan_on_closed_window(spark, stream_result):
    """T-series contract: the streaming emission for a finalized
    window equals the batch aggregation over the on-time rows."""
    on_time = [
        (_ts(10, 0), "click", 1.0),
        (_ts(10, 30), "click", 2.0),
        (_ts(10, 59), "view", 10.0),
        (_ts(12, 30), "click", 4.0),
        (_ts(14, 0), "view", 8.0),
    ]
    # withWatermark is a documented no-op on batch frames, so the
    # same function expresses both plans.
    batch = tumbling_event_counts(
        spark.createDataFrame(on_time, ["ts", "event_type", "value"])
    ).collect()
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
        for r in batch
    }
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
        for r in stream_result
    }
    assert stream_rows == batch_rows


def test_events_stream_from_testdata_schema(spark, tmp_path):
    """The sf0.001 events table mounts as a stream with the batch
    catalog's schema, building the stream runs no Spark job, and T1,
    T2, T3 and T7 run on it. A file source streams a directory, so the
    stream reads a directory holding the table's file, and the runs
    replay it as one micro-batch: T1 and T2 emit exactly the batch rows
    whose window ended by the watermark, and T7 the sessions that T3
    closes."""
    path = os.path.join(SF_DIR_SMOKE, "events.parquet")
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(path, src / "events.parquet")
    with job_group(spark, "test.read_events_stream") as build:
        stream = read_events_stream(spark, str(src))
    assert build()[0] == 0
    assert stream.isStreaming
    batch = load_table(spark, SF_DIR_SMOKE, "events")
    assert stream.schema == batch.schema
    wm = batch.selectExpr(f"unix_seconds(max(ts)) - {10 * 60}").first()[0]

    def run(name, query):
        out = tmp_path / name
        run_available_now(
            query(read_events_stream(spark, str(src))), str(out / "out"), str(out / "cp")
        )
        return sorted(tuple(r) for r in spark.read.parquet(str(out / "out")).collect())

    for name, query in [("t1", tumbling_event_counts), ("t2", sliding_event_counts)]:
        closed = [r for r in sorted(tuple(r) for r in query(batch).collect()) if r[0] + 3600 <= wm]
        assert closed and run(name, query) == closed, name
    sessions = run("t3", session_event_counts)
    t7 = sorted(
        (u, round(start.timestamp(), 6), n, round(total, 2))
        for u, start, _, n, total in run("t7", sessionize_stream)
    )
    assert sessions and t7 == sessions


def test_events_stream_over_a_file_fails_when_built(spark, tmp_path):
    """A file source streams a directory: a path that is a regular file
    raises when the stream is built, with no Spark job, not at its first
    micro-batch. A glob still builds a stream, as it did before."""
    path = os.path.join(SF_DIR_SMOKE, "events.parquet")
    assert os.path.isfile(path)
    with job_group(spark, "test.read_events_stream_file") as build:
        with pytest.raises(ValueError, match="is a file"):
            read_events_stream(spark, path)
    assert build() == (0, 0)
    assert read_events_stream(spark, str(tmp_path / "*" / "")).isStreaming


# -- predictions write path (S6/S7) ------------------------------------


def test_predictions_insert_and_topk_roundtrip(tmp_path):
    path = str(tmp_path / "predictions")
    create_predictions_table(path)
    # idempotent create-if-not-exists; an empty store holds no file
    create_predictions_table(path)
    assert top_k_predictions(path=path) == []

    insert_prediction("great movie", "Positive sentiment", path)
    insert_prediction("terrible queue", "Negative sentiment", path)
    rows = top_k_predictions(limit=10, path=path)
    assert len(rows) == 2
    # newest first, server-side timestamps present
    assert rows[0]["timestamp"] >= rows[1]["timestamp"]
    assert {r["prediction"] for r in rows} == {
        "Positive sentiment",
        "Negative sentiment",
    }
    one = top_k_predictions(limit=1, path=path)
    assert len(one) == 1 and one[0]["message"] == rows[0]["message"]
    with pytest.raises(ValueError):
        top_k_predictions(limit=-1, path=path)


# -- streaming stateful dedup (T5 streaming form) ----------------------


@pytest.fixture(scope="module")
def dedup_result(spark, tmp_path_factory):
    """Four micro-batches exercising dropDuplicatesWithinWatermark:

    * f0: event_id 1 @10:00, event_id 2 @10:05 → both emitted
    * f1: DUPLICATE event_id 1 @10:01 (id 1 still in state) →
      dropped; event_id 3 @11:00 emitted → watermark 10:50
    * f2: event_id 3 @11:01 duplicate (state for 3 alive until the
      watermark passes 11:10) → dropped; event_id 4 @13:00 emitted
      → watermark 12:50, and end-of-batch cleanup evicts id 1
      (expired 10:10)
    * f3: event_id 1 @14:00 — id 1's state is gone, so the row is
      RE-EMITTED: bounded state trades late-duplicate detection for
      survivable memory at stream scale
    """
    base = tmp_path_factory.mktemp("dedup_stream")
    src = str(base / "events_src")
    cols = ["event_id", "ts", "event_type", "value"]
    files = [
        [(1, _ts(10, 0), "click", 1.0), (2, _ts(10, 5), "view", 2.0)],
        [(1, _ts(10, 1), "click", 1.0), (3, _ts(11, 0), "click", 3.0)],
        [(3, _ts(11, 1), "click", 3.0), (4, _ts(13, 0), "click", 4.0)],
        [(1, _ts(14, 0), "click", 9.0)],
    ]
    _write_batches(spark, src, files, cols)

    stream = read_events_stream(spark, src + "/*/")
    out, cp = str(base / "out"), str(base / "cp")
    run_available_now(dedup_events_stream(stream), out, cp)
    return spark.read.parquet(out).collect()


def test_stream_dedup_drops_in_state_duplicates(dedup_result):
    emitted = sorted((r["event_id"], r["ts"].hour, r["ts"].minute) for r in dedup_result)
    # duplicates at 10:01 (id 1) and 11:01 (id 3) were deduped
    assert (1, 10, 1) not in emitted and (3, 11, 1) not in emitted
    assert (1, 10, 0) in emitted and (2, 10, 5) in emitted and (3, 11, 0) in emitted
    assert (4, 13, 0) in emitted


def test_stream_dedup_state_is_bounded_not_forever(dedup_result):
    # id 1 reappearing at 14:00 — long after its state was evicted —
    # is re-emitted: the documented bounded-state trade-off
    emitted = sorted((r["event_id"], r["ts"].hour, r["ts"].minute) for r in dedup_result)
    assert (1, 14, 0) in emitted
    assert len(emitted) == 5


# -- custom stateful operator: applyInPandasWithState sessionization ----


@pytest.fixture(scope="module")
def session_result(spark, tmp_path_factory):
    """Five micro-batches exercising every sessionize_stream path:

    * u1 @10:00+@10:10 then @12:00 — the 12:00 event arrives beyond
      the 30-min gap while u1 still has state, so the first session
      closes IN-BAND (new-data path) and a new one opens;
    * u2 @10:05 — no further data; closes via EVENT-TIME TIMEOUT
      once the watermark passes 10:35;
    * u3 @11:30 then @14:00 — timeout-close, then a second session
      that closes in the final no-data micro-batch (watermark 14:50
      > 14:30);
    * u4 @15:00 — still open when input drains: must NOT be emitted
      (append mode emits each closed session exactly once).
    """
    base = tmp_path_factory.mktemp("session_stream")
    src = str(base / "events_src")
    cols = ["user_id", "ts", "value"]
    files = [
        [(1, _ts(10, 0), 1.0), (1, _ts(10, 10), 2.0), (2, _ts(10, 5), 5.0)],
        [(3, _ts(11, 30), 7.0)],
        [(1, _ts(12, 0), 3.0)],
        [(3, _ts(14, 0), 1.0)],
        [(4, _ts(15, 0), 2.0)],
    ]
    _write_batches(spark, src, files, cols)

    stream = read_events_stream(spark, src + "/*/")
    sess = sessionize_stream(stream)
    out, cp = str(base / "out"), str(base / "cp")
    run_available_now(sess, out, cp)
    return spark.read.parquet(out).collect()


def test_sessions_close_in_band_and_by_timeout(session_result):
    got = {
        (r["user_id"], _utc(r["session_start"]), _utc(r["session_end"]),
         r["n_events"], r["sum_value"])
        for r in session_result
    }
    assert got == {
        (1, _ts(10, 0), _ts(10, 10), 2, 3.0),   # in-band close (gap exceeded)
        (2, _ts(10, 5), _ts(10, 5), 1, 5.0),    # timeout close
        (3, _ts(11, 30), _ts(11, 30), 1, 7.0),  # timeout close
        (1, _ts(12, 0), _ts(12, 0), 1, 3.0),    # second session, timeout
        (3, _ts(14, 0), _ts(14, 0), 1, 1.0),    # closed by final no-data batch
    }


def test_open_session_not_emitted(session_result):
    # u4's 15:00 session was still open when the stream drained
    assert all(r["user_id"] != 4 for r in session_result)


#: Three micro-batches for the stream-vs-batch tests. u1's 10:30:00
#: event comes exactly 30 minutes after its 10:00:00 one and stays in
#: the same session; 11:00:01 opens a new one. u5's 10:30:00.5 event
#: comes 1,800.5 s after its 10:00:00 one and opens a new session. The
#: u9 event only moves the watermark (to 22:50) so the others close;
#: its own session, and the sliding windows that hold only it, are
#: still open when the stream drains.
_EQUIV_FILES = [
    [(1, _ts(10, 0), 1.25), (2, _ts(10, 5, 7), 2.5), (2, _ts(10, 20, 13), 0.75),
     (1, _ts(10, 30), 3.0), (3, _ts(10, 45, 59), 4.5),
     (5, _ts(10, 0), 1.0), (5, _ts(10, 30, 0, 500_000), 2.0)],
    [(1, _ts(11, 0, 1), 5.25), (2, _ts(12, 0), 6.0), (3, _ts(12, 15, 59), 1.0)],
    [(9, _ts(23, 0), 7.0)],
]
_FINAL_WATERMARK = _ts(23, 0) - timedelta(minutes=10)


@pytest.fixture(scope="module")
def equiv_events(spark, tmp_path_factory):
    """(stream source dir, batch sf_dir) over the same ``_EQUIV_FILES``
    rows."""
    base = tmp_path_factory.mktemp("equiv")
    cols = ["user_id", "ts", "value"]
    src = str(base / "events_src")
    _write_batches(spark, src, _EQUIV_FILES, cols)
    sf_dir = str(base / "sf")
    spark.createDataFrame([r for rows in _EQUIV_FILES for r in rows], cols).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return src, sf_dir


def _replay(spark, src: str, query, out_dir) -> list:
    """Rows the streaming ``query`` emits over the replayed source."""
    stream = read_events_stream(spark, src + "/*/")
    out, cp = str(out_dir / "out"), str(out_dir / "cp")
    run_available_now(query(stream), out, cp)
    return spark.read.parquet(out).collect()


def test_stream_sessions_equal_batch_session_window(spark, equiv_events, tmp_path):
    """T3 two ways on the same rows: every session ``sessionize_stream``
    closes equals a row of ``t03_session_window``'s ``session_window``,
    on (user_id, n_events, sum_value), with the gap compared on exact
    event times."""
    src, sf_dir = equiv_events
    streamed = sorted(
        (r["user_id"], r["n_events"], round(r["sum_value"], 2))
        for r in _replay(spark, src, sessionize_stream, tmp_path)
    )
    batch = sorted(
        (r["user_id"], r["n_events"], r["sum_value"])
        for r in t03_session_window(spark, sf_dir).collect()
    )
    assert streamed == [(1, 1, 5.25), (1, 2, 4.25), (2, 1, 6.0), (2, 2, 3.25),
                        (3, 1, 1.0), (3, 1, 4.5), (5, 1, 1.0), (5, 1, 2.0)]
    assert batch == sorted(streamed + [(9, 1, 7.0)])


def test_stream_sliding_windows_equal_closed_batch_windows(spark, equiv_events, tmp_path):
    """T2: the shared ``sliding_event_counts`` on the stream emits
    exactly the ``t02_sliding_window`` rows whose window ended by the
    final watermark."""
    src, sf_dir = equiv_events
    streamed = sorted(tuple(r) for r in _replay(spark, src, sliding_event_counts, tmp_path))
    wm = int(_FINAL_WATERMARK.timestamp())
    batch = sorted(tuple(r) for r in t02_sliding_window(spark, sf_dir).collect())
    closed = [r for r in batch if r[0] + 3600 <= wm]
    assert streamed == closed
    assert len(closed) == 13 and len(batch) == 17


def test_stream_sessions_equal_closed_batch_sessions(spark, equiv_events, tmp_path):
    """T3: the shared ``session_event_counts`` on the stream emits
    exactly the ``t03_session_window`` rows whose session (last event
    plus the gap) ended by the final watermark: every user's but the
    last session of a user whose last event is within the gap of it."""
    src, sf_dir = equiv_events
    streamed = sorted(tuple(r) for r in _replay(spark, src, session_event_counts, tmp_path))
    last_event = {}
    for u, t, _ in (r for rows in _EQUIV_FILES for r in rows):
        last_event[u] = max(t, last_event.get(u, t))
    open_users = {
        u for u, t in last_event.items()
        if t + timedelta(seconds=SESSION_GAP_S) > _FINAL_WATERMARK
    }
    batch = sorted(tuple(r) for r in t03_session_window(spark, sf_dir).collect())
    latest = {}
    for u, start, _, _ in batch:
        latest[u] = max(start, latest.get(u, start))
    closed = [r for r in batch if not (r[0] in open_users and r[1] == latest[r[0]])]
    assert streamed == closed
    assert open_users == {9} and len(closed) == len(batch) - 1 == 8
