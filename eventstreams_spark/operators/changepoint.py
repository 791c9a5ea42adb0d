"""Change-point detection (CUSUM) — batch form.

Page's CUSUM is a per-key SEQUENTIAL fold (each step depends on the
previous), which no window function expresses. Its one loop is the
GroupState fold ``streaming/stateful.py::_cusum_changepoint_fold``:
the streaming operator carries its state across micro-batches, and
the batch form runs it once per key over the key's rows through
``grouped_fold``. ``tests/test_streaming.py::
test_cusum_batch_equals_stream`` pins the two carries equal, and the
``cusum_reference_check`` query certifies the batch form against a
DuckDB recursive-CTE replay.

Scale: one shuffle by key; the fold is O(rows-per-key) Python over
Arrow batches — parallelism comes from key count (pre-split hot keys
by a coarser time bucket if one series outruns a core, then stitch
like two-level sessionize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..streaming.stateful import _cusum_changepoint_fold, grouped_fold


def cusum_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
) -> DataFrame:
    """Batch CUSUM: same output schema and semantics as the streaming
    form — (input columns) + s_pos, s_neg, alarm per event."""
    return grouped_fold(
        df, key_col, _cusum_changepoint_fold,
        added="s_pos double, s_neg double, alarm boolean",
        ts_col=ts_col, value_col=value_col, target=target, slack=slack, threshold=threshold,
    )
