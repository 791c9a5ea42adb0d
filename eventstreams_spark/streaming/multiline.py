"""Streaming multiline codec (T6 applied to S-codec): reassemble
continuation lines into events across micro-batch boundaries.

The batch operator (operators/multiline.py) needs the whole line set;
a live tail gets lines split across micro-batches, so the open event
must live in keyed state. applyInPandasWithState holds exactly that:
per source key, the pending (unterminated) event; a start line flushes
it, a processing-time timeout flushes an idle tail (the Logstash
``auto_flush_interval``). The call goes through
``stateful.keyed_state``, which takes the key column's type from the
input and requires the module-level fold below.

Scale: one shuffle by source key; state is O(open event) per key —
bounded by the longest single event, not the stream; Python cost is
per key-batch via Arrow.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .stateful import keyed_state


def _is_continuation(line: str, rx: re.Pattern, negate: bool) -> bool:
    m = rx.search(line) is not None
    return (not m) if negate else m


def _multiline_fold(
    key, pdfs, state: GroupState, *, key_col: str, line_col: str, order_col: str,
    rx: re.Pattern, negate: bool, sep: str, flush_ms: int | None
):
    """Per-key fold of :func:`multiline_stream`."""
    if state.hasTimedOut:
        first_no, n, msg = state.get
        state.remove()
        yield pd.DataFrame(
            {key_col: [key[0]], "first_line_no": [first_no],
             "n_lines": [n], "message": [msg]}
        )
        return
    pending = state.get if state.exists else None
    done: list[tuple[int, int, str]] = []
    # a key's micro-batch rows can span multiple Arrow chunks (10k
    # rows/chunk default) arriving in shuffle order — concat FIRST,
    # then sort once; per-chunk sorting would interleave events
    chunks = [pdf for pdf in pdfs if len(pdf)]
    batch = (
        pd.concat(chunks).sort_values(order_col) if chunks else pd.DataFrame()
    )
    if len(batch):
        for _, row in batch.iterrows():
            line = row[line_col]
            if pending is not None and _is_continuation(line, rx, negate):
                pending = (pending[0], pending[1] + 1, pending[2] + sep + line)
            else:
                if pending is not None:
                    done.append(pending)
                pending = (int(row[order_col]), 1, line)
    if pending is not None:
        state.update(pending)
        if flush_ms is not None:
            state.setTimeoutDuration(flush_ms)
    if done:
        yield pd.DataFrame(
            {key_col: [key[0]] * len(done),
             "first_line_no": [d[0] for d in done],
             "n_lines": [d[1] for d in done],
             "message": [d[2] for d in done]}
        )


def multiline_stream(
    df: DataFrame,
    key_col: str,
    line_col: str,
    order_col: str,
    pattern: str,
    *,
    negate: bool = False,
    sep: str = " ",
    flush_ms: int | None = None,
) -> DataFrame:
    """Reassemble a line stream into events (what=previous semantics).

    A line matching ``pattern`` (inverted by ``negate``) continues the
    open event; any other line completes the open event (emitted) and
    opens a new one. The trailing open event is held in state and
    emitted when ``flush_ms`` of processing time passes with no new
    lines for the key (never, when ``flush_ms`` is None — the next
    start line is then the only flush).

    Output: ``key, first_line_no, n_lines, message`` per completed
    event, in append mode.
    """
    return keyed_state(
        df, key_col, _multiline_fold,
        added="first_line_no long, n_lines long, message string",
        state="first_no long, n long, msg string",
        timeout=(
            GroupStateTimeout.ProcessingTimeTimeout
            if flush_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
        key_col=key_col, line_col=line_col, order_col=order_col, rx=re.compile(pattern),
        negate=negate, sep=sep, flush_ms=flush_ms,
    )
