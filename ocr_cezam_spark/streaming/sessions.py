"""Custom stateful streaming operator: incremental sessionization.

``streaming/state.py``'s ``changelog_stream`` keeps (last_ts,
session_id, n_events, session_value) per user across micro-batches and
emits one row per (user, session) per batch — the streaming form of
``relational.sessionize`` (A5/W3 lag+gap clustering). The batch and
streaming results must agree on the final session structure
(tests/test_streaming_state.py).

State is tiny (4 scalars per user), so at 10^12-event scale the state
store grows with |users|, not |events|; the shuffle is on user_id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .state import changelog_stream

OUTPUT_SCHEMA = (
    "user_id long, session_id long, n_events long, session_value double"
)
STATE_SCHEMA = "last_ts double, session_id long, n_events long, session_value double"

GAP_SECONDS = 1800.0


def _step_sessions(user_id, state, chunks):
    last_ts, session_id, n_events, session_value = (
        state or (None, 0, 0, 0.0))
    # A group's micro-batch rows arrive as MULTIPLE Arrow chunks (split at
    # arrow.maxRecordsPerBatch); sorting each chunk independently would
    # process chunk 2's earlier timestamps after chunk 1's later ones and
    # silently merge/misplace session boundaries. Concatenate, sort ONCE.
    frames = list(chunks)
    if not frames:
        return None, []
    touched: dict[int, tuple[int, float]] = {}
    whole = pd.concat(frames).sort_values(["ts", "event_id"])
    for ts, value in zip(
        whole["ts"].astype("int64") / 1e9,
        whole["value"].astype("float64"),
    ):
        if last_ts is not None and ts - last_ts > GAP_SECONDS:
            session_id += 1
            n_events, session_value = 0, 0.0
        last_ts = ts
        n_events += 1
        session_value = round(session_value + value, 2)
        touched[session_id] = (n_events, session_value)
    return (last_ts, session_id, n_events, session_value), [
        {"user_id": user_id, "session_id": sid, "n_events": n,
         "session_value": v}
        for sid, (n, v) in touched.items()
    ]


def stateful_sessionize(events: DataFrame) -> DataFrame:
    """Streaming events -> per-(user, session) incremental aggregates.

    Update output mode: a session row is re-emitted whenever a batch
    touches it; the latest row per (user_id, session_id) is the current
    aggregate, and it is final once a newer session for that user exists.
    """
    return changelog_stream(events, "user_id", _step_sessions,
                            OUTPUT_SCHEMA, STATE_SCHEMA, output_mode="update")
