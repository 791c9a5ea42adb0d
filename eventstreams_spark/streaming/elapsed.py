"""Elapsed-time pairing (Logstash ``elapsed`` filter) — SURVEY §2.9 T6.

Semantics (matching Logstash elapsed): per key, a *start* event opens a
pending interval; the next *end* event closes it and emits
(key, start_ts, end_ts, elapsed seconds). A new start while one is
pending replaces it (last-start-wins, Logstash's behavior); an end with
no pending start is dropped. Pending starts expire after ``timeout``
(Logstash's ``timeout`` option) via state timeout, bounding state at
100 TB/day: live state ≤ one pending start per key younger than the
timeout.

Implementation note: Spark 4's ``transformWithStateInPandas`` (typed
ValueState + TTL) is the forward path for this operator, but its
driver worker imports ``google.protobuf`` which is not available in
this container, so the op is built on ``applyInPandasWithState`` —
same state-store mechanics (keyed state + ProcessingTime timeout),
available everywhere Spark 4 runs — through
``stateful.keyed_state``, which owns the output schema and requires
the module-level fold below.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .stateful import keyed_state

_UNITS_MS = {
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
}


def _elapsed_fold(
    key, pdfs, state: GroupState, *, ts_col: str, type_col: str, start_val: str,
    end_val: str, ttl_ms: int | None
):
    """Per-key fold of :func:`elapsed_stream`."""
    if state.hasTimedOut:
        state.remove()
        return
    pending = state.get[0] if state.exists else None
    events: list[tuple[int, str]] = []
    for pdf in pdfs:
        for ts, ev in zip(pdf[ts_col], pdf[type_col]):
            events.append((int(pd.Timestamp(ts).value) // 1000, ev))
    events.sort()
    out: list[tuple] = []
    for ts_us, ev in events:
        if ev == start_val:
            pending = ts_us  # last-start-wins
        elif ev == end_val and pending is not None:
            out.append((key[0], pending, ts_us, (ts_us - pending) / 1e6))
            pending = None
    if pending is None:
        if state.exists:
            state.remove()
    else:
        state.update((pending,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
    if out:
        yield pd.DataFrame(out, columns=["key", "start_us", "end_us", "elapsed_s"])


def elapsed_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    start_val: str,
    end_val: str,
    timeout: str | None = "1 hour",
) -> DataFrame:
    """Pair start/end events per key and emit elapsed durations.

    ``timeout`` (duration string, or None) expires pending starts so
    state stays bounded. Keys are stringified into ``key``.
    """
    ttl_ms: int | None = None
    if timeout is not None:
        amount, unit = timeout.split()
        ttl_ms = int(amount) * _UNITS_MS[unit]

    keyed = df.select(
        df[key_col].cast("string").alias("key"),
        df[ts_col].alias(ts_col),
        df[type_col].alias(type_col),
    )
    return keyed_state(
        keyed, "key", _elapsed_fold,
        added="start_us long, end_us long, elapsed_s double", state="start_us long",
        timeout=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
        ts_col=ts_col, type_col=type_col, start_val=start_val, end_val=end_val, ttl_ms=ttl_ms,
    )
