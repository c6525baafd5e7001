"""Custom stateful streaming operator (SURVEY §2.9 T7): gap-based
sessionization via ``applyInPandasWithState``.

Native T3 (:func:`~bigdata_lab4_spark.streaming.windows.session_event_counts`)
and this operator cut the same sessions: the gap is the shared
:data:`~bigdata_lab4_spark.streaming.windows.SESSION_GAP_S`, compared
strictly (``> gap`` opens a new session) on exact event times. What
this operator adds over native T3:

* an in-band close: a session is emitted as soon as the user's next
  event arrives more than the gap after it, without waiting for the
  watermark; otherwise it closes by event-time timeout once the
  watermark passes ``end + gap``;
* ``session_end``, the time of the session's last event (native T3
  reports only the window, whose end is the last event plus the gap).

Each closed session is emitted exactly once (append mode); a session
still open when the input drains is not emitted.

Scale notes (100 TB/day): state lives in the state store, one entry
per ACTIVE key — O(live sessions), not O(events). Rows reach Python
via Arrow, grouped per key; the shuffle is the single
``groupBy(user_id)`` hash exchange that any sessionization needs.
The in-Python work is O(batch rows) with no cross-key access.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from bigdata_lab4_spark.streaming.windows import SESSION_GAP_S, WATERMARK

#: Emitted by the state machine once per closed session; times are
#: epoch microseconds, turned into timestamps on the JVM side.
_SESSION_SCHEMA = StructType(
    [StructField(c, LongType()) for c in ("user_id", "session_start", "session_end", "n_events")]
    + [StructField("sum_value", DoubleType())]
)

_STATE_SCHEMA = "start LONG, end LONG, n LONG, sum_value DOUBLE"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Close a (user_id) session when no event arrives within
    :data:`SESSION_GAP_S` of the last one; emit one row per closed
    session: ``user_id``, ``session_start`` and ``session_end``
    (timestamps of its first and last event), ``n_events`` and
    ``sum_value``.

    Input needs ``user_id``, ``ts`` (timestamp) and ``value``; the
    module watermark is applied here.
    """
    gap_us = SESSION_GAP_S * 1_000_000
    columns = _SESSION_SCHEMA.fieldNames()

    # Self-contained closure (only `gap_us` and `columns` captured):
    # executors must not need this package on their PYTHONPATH — see
    # functions/multimodal.py for the full rationale.
    def update(key, pdfs, state):
        import pandas as pd

        out = []
        if state.hasTimedOut:
            out.append((key[0], *state.get))
            state.remove()
        else:
            rows = pd.concat(list(pdfs)).sort_values("ts_us")
            cur = state.get if state.exists else None
            for t, v in zip(rows["ts_us"].tolist(), rows["value"].tolist()):
                if cur is None:
                    cur = (t, t, 1, float(v))
                elif t - cur[1] > gap_us:
                    out.append((key[0], *cur))  # in-band close
                    cur = (t, t, 1, float(v))
                else:
                    cur = (cur[0], t, cur[2] + 1, cur[3] + float(v))
            state.update(cur)
            # Timeout close once the watermark (milliseconds) passes
            # end + gap, rounded up so it never fires before it.
            state.setTimeoutTimestamp(-(-(cur[1] + gap_us) // 1000))
        if out:
            yield pd.DataFrame(out, columns=columns)

    return (
        events.withWatermark("ts", WATERMARK)
        # ``ts`` stays: its watermark is what enables the event-time
        # timeout. The state machine reads only the exact ``ts_us``.
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
        .select(
            "user_id",
            F.timestamp_micros("session_start").alias("session_start"),
            F.timestamp_micros("session_end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
