"""Arbitrary stateful streaming operators (T6/T7).

applyInPandasWithState gives per-key state with Arrow-batched Python —
the escape hatch for semantics Spark's built-in stateful ops can't
express (Logstash ``throttle``/``aggregate``-style accumulation).
Every GroupState operator of the engine (these, ``elapsed.py`` and
``multiline.py``) makes that call through :func:`keyed_state`, and
every batch ``applyInPandas`` fold through its twin
:func:`grouped_fold`, which runs a fold once per key from an empty
state. The two share the output schema, its column order and the fold
contract below, so a sequential operator (CUSUM, Holt, Kalman, the
HMM filter) has one fold for its batch and stream forms.

Scale notes: state is partitioned by key group (one shuffle), batched
through Arrow, and stored in the state store per (key, operator). The
fold runs once per key per batch, not per row, but the Python cost
that dominates small batches is per TASK: every task of a reused
worker first runs pyspark's ``setup_spark_files``, whose
``importlib.invalidate_caches()`` re-reads every zip archive on the
worker's path on CPython < 3.13 (110–225 ms per task measured on 4
vCPUs, against a few ms for a counting fold), plus the worker's
one-time start-up.
The engine package replaces that re-read by a stat-keyed one when it
is imported (``eventstreams_spark/zipcache.py``), and a worker imports
it only to unpickle a module-level engine function. A closure over
``pd`` alone is pickled by value and the worker never loads the
engine, so both helpers refuse a fold defined inside a function
(``TypeError``) and bind its parameters with ``functools.partial``
instead. Keys must be well-distributed; a hot
key serializes through one Python worker.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial

import bisect
import hashlib
import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructField, StructType

from ..operators import tdigest as td
from ..operators.kll import KLL
from ..operators.smoothing import (
    _HMM_CLAMP,
    _hmm_init,
    _round_half_away,
    hmm_step_py,
)
from ..session import ship_package

def keyed_state(
    df: DataFrame,
    by: str,
    fold: Callable[..., Iterator[pd.DataFrame]],
    *,
    added: str,
    state: str,
    keep: str | None = "key",
    mode: str = "append",
    timeout: str = GroupStateTimeout.NoTimeout,
    **params,
) -> DataFrame:
    """Group ``df`` by ``by`` and run ``fold(key, pdfs, state, **params)``
    per key with GroupState: the engine's one ``applyInPandasWithState``
    call.

    The output schema is the columns ``keep`` names followed by the
    ``added`` DDL: ``"input"`` keeps every input column (the fold yields
    input rows with ``added`` appended), ``"key"`` keeps the ``by``
    column with its input type, and ``None`` keeps nothing, so ``added``
    is the whole schema. Each frame the fold yields is reordered to the
    schema's columns. ``state`` is the state DDL, ``mode`` the output
    mode and ``timeout`` a ``GroupStateTimeout``.

    ``fold`` must be a module-level function (see the module notes); a
    nested function or lambda raises ``TypeError``.
    """
    run, schema = _fold_udf(df, [by], fold, _ordered_fold, keep, added, params)
    return df.groupBy(by).applyInPandasWithState(
        run,
        outputStructType=schema,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=timeout,
    )


def grouped_fold(
    df: DataFrame,
    by: str | list[str],
    fold: Callable[..., Iterator[pd.DataFrame]],
    *,
    added: str,
    keep: str | None = "input",
    **params,
) -> DataFrame:
    """Group ``df`` by ``by`` (a column or a list of them) and run
    ``fold(key, pdfs, state, **params)`` once per key over all of that
    key's rows: the engine's one ``applyInPandas`` call, and the batch
    form of :func:`keyed_state` with the same fold contract, output
    schema (``keep`` and ``added``) and module-level rule.

    ``pdfs`` yields one frame holding the key's rows and ``state`` is
    empty (``exists`` is false, ``update`` keeps nothing), so a stream
    fold gives here what it gives from a fresh checkpoint over the same
    rows in one micro-batch. A batch-only fold ignores ``state``.
    """
    keys = [by] if isinstance(by, str) else list(by)
    run, schema = _fold_udf(df, keys, fold, _grouped_run, keep, added, params)
    return df.groupBy(*keys).applyInPandas(run, schema=schema)


def _fold_udf(
    df: DataFrame,
    keys: list[str],
    fold: Callable[..., Iterator[pd.DataFrame]],
    runner: Callable[..., object],
    keep: str | None,
    added: str,
    params: dict,
) -> tuple[Callable[..., object], StructType]:
    """The UDF and output schema both helpers hand to Spark: ``runner``
    bound to ``fold`` (with ``params``) and the schema's column order,
    named after ``fold`` so plans show it; the engine zip is shipped."""
    if "<" in getattr(fold, "__qualname__", ""):
        raise TypeError(
            "GroupState and grouped folds must be module-level functions, so that "
            "a worker unpickles them by reference and imports the engine; "
            f"got {fold.__qualname__}"
        )
    if keep == "input":
        lead = list(df.schema.fields)
    elif keep == "key":
        lead = [StructField(k, df.schema[k].dataType) for k in keys]
    else:
        lead = []
    tail = list(df.sparkSession._parse_ddl(added).fields) if added else []
    schema = StructType(lead + tail)
    ship_package(df.sparkSession)
    run = partial(runner, fold=partial(fold, **params), columns=schema.fieldNames())
    run.__name__ = fold.__name__  # the UDF's name in plans
    return run, schema


def _ordered_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    fold: Callable[..., Iterator[pd.DataFrame]],
    columns: list[str],
) -> Iterator[pd.DataFrame]:
    """Run ``fold`` and yield its frames in the output schema's column
    order."""
    for pdf in fold(key, pdfs, state):
        yield pdf if list(pdf.columns) == columns else pdf[columns]


class _EmptyState:
    """The state a :func:`grouped_fold` run starts from and drops."""

    exists = False

    def update(self, value) -> None:
        pass


def _grouped_run(key, pdf, *, fold, columns):
    """One key of :func:`grouped_fold`: ``fold`` over the key's rows
    from an empty state, its frames in schema order as one frame.
    Unannotated on purpose: Spark reads a grouped function's type hints
    to choose between its frame and iterator forms."""
    frames = list(_ordered_fold(key, iter([pdf]), _EmptyState(), fold=fold, columns=columns))
    if len(frames) == 1:
        return frames[0]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(columns=columns)


def _fold_sort(pdf: pd.DataFrame, ts_col: str) -> pd.DataFrame:
    """Deterministic fold order for sequential stateful operators.

    Sorting by the timestamp alone leaves duplicate-ts rows in Spark's
    nondeterministic partition order (ADVICE r2, medium) — the fold
    outputs (CUSUM s_pos/s_neg, z-scores, admitted rows…) would then
    vary run to run and diverge from the (ts, event_id) ordering the
    repo's oracles pin.  We tiebreak on ``event_id`` when the frame
    has it, plus a stable mergesort so equal keys keep input order.
    """
    cols = [ts_col] + [c for c in ("event_id",) if c in pdf.columns and c != ts_col]
    return pdf.sort_values(cols, kind="mergesort")


def _throttle_fold(key, pdfs, state: GroupState, *, ts_col: str, limit: int):
    """Per-key fold of :func:`throttle_stream`."""
    (admitted,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        if admitted >= limit:
            continue
        take = _fold_sort(pdf, ts_col).head(limit - admitted).copy()
        take["n_admitted"] = range(admitted + 1, admitted + len(take) + 1)
        admitted += len(take)
        if len(take):
            yield take
    state.update((admitted,))


def throttle_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    limit: int,
) -> DataFrame:
    """At most ``limit`` events per key over the stream's lifetime
    (Logstash throttle with no period): a per-key admitted-counter in
    GroupState; rows beyond the limit are dropped.

    Output schema = input schema plus ``n_admitted`` (running count per
    key at admission time).
    """
    return keyed_state(
        df, key_col, _throttle_fold, keep="input", added="n_admitted long",
        state="admitted long", ts_col=ts_col, limit=limit,
    )


def _accumulate_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    key_col: str,
    value_col: str,
) -> Iterator[pd.DataFrame]:
    """Per-key fold of :func:`accumulate_stream`."""
    total, count = state.get if state.exists else (0.0, 0)
    for pdf in pdfs:
        total += float(pdf[value_col].sum())
        count += len(pdf)
    state.update((total, count))
    yield pd.DataFrame(
        {key_col: [key[0]], "running_sum": [total], "running_count": [count]}
    )


def accumulate_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Logstash ``aggregate`` analog: per-key running sum + count
    emitted once per micro-batch (update-style accumulation over
    arbitrary state)."""
    return keyed_state(
        df, key_col, _accumulate_fold, added="running_sum double, running_count long",
        state="total double, cnt long", mode="update", key_col=key_col, value_col=value_col,
    )


def _throttle_periodic_fold(
    key, pdfs, state: GroupState, *, ts_col: str, limit: int, period_seconds: int
):
    """Per-key fold of :func:`throttle_stream_periodic`."""
    bucket, admitted = state.get if state.exists else (-1, 0)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        state.update((bucket, admitted))
        return
    batch = _fold_sort(pd.concat(chunks), ts_col)
    epochs = (batch[ts_col].astype("int64") // 1_000_000_000).astype("int64")
    b = (epochs // period_seconds) * period_seconds
    batch = batch.assign(bucket_start=b)
    batch = batch[batch["bucket_start"] >= bucket]  # drop late buckets
    if len(batch):
        # 1-based admission index within each bucket, continuing the
        # carried-in count for the bucket the state is already in
        idx = batch.groupby("bucket_start").cumcount() + 1
        carry = (batch["bucket_start"] == bucket) * admitted
        batch = batch.assign(n_admitted=idx + carry)
        last_b = int(batch["bucket_start"].iloc[-1])
        admitted_last = int(
            batch.loc[batch["bucket_start"] == last_b, "n_admitted"].max()
        )
        out = batch[batch["n_admitted"] <= limit]
        bucket, admitted = last_b, min(admitted_last, limit)
        if len(out):
            yield out
    state.update((bucket, admitted))


def throttle_stream_periodic(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    limit: int,
    period_seconds: int = 3600,
) -> DataFrame:
    """At most ``limit`` events per key per event-time bucket of
    ``period_seconds`` — the full Logstash ``throttle`` semantic
    (the lifetime variant above is its period=∞ special case).

    State per key is (bucket_start_epoch, admitted) — two longs, O(1)
    regardless of stream length: advancing into a LATER bucket resets
    the counter, so state never grows and no timeout eviction is
    needed for correctness (add one to GC idle keys in production).

    Late rows (bucket older than the key's current bucket) are
    DROPPED — re-opening a past bucket would reset its counter and
    over-admit beyond the limit (the bucket's quota state is gone);
    this is the same watermark-style discipline every bounded-state
    operator needs.

    Output: input rows that were admitted, plus ``bucket_start``
    (epoch seconds) and ``n_admitted`` (1-based within the bucket).
    Vectorized: bucket assignment + per-bucket cumcount, no per-row
    Python loop.
    """
    return keyed_state(
        df, key_col, _throttle_periodic_fold, keep="input",
        added="bucket_start long, n_admitted long", state="bucket long, admitted long",
        ts_col=ts_col, limit=limit, period_seconds=period_seconds,
    )


def _correlate_row(key_col, key, t_start_us, t_end_us, n, cents, completed):
    return pd.DataFrame(
        {
            key_col: [key],
            "t_start": [pd.Timestamp(t_start_us, unit="us")],
            "t_end": [
                pd.Timestamp(t_end_us, unit="us") if t_end_us is not None else pd.NaT
            ],
            "n_steps": [n],
            "step_value_cents": [cents],
            "completed": [completed],
        }
    )


# Strict-between semantics (ADVICE r2): steps are events with
# t_start < ts < t_end, matching the batch `aggregate` step and
# the oracle-checked aggregate_task_correlate query exactly.
# - rows at ts == t_start never count (skip below);
# - rows at ts == t_end must not count either, but the close event
#   is only seen when we reach it — so contributions are staged in
#   a (cur_ts, n_cur, cents_cur) buffer, committed when a LATER
#   timestamp arrives and discarded when the close lands on cur_ts.
# Equality with batch holds when the task's opening start event is
# first (by event_id) among same-timestamp events, which the
# (ts, event_id) fold order guarantees for replayed event logs.
def _correlate_tasks_fold(
    key, pdfs, state: GroupState, *, key_col: str, type_col: str, ts_col: str,
    value_col: str, start_value: str, end_value: str, timeout_ms: int | None
):
    """Per-key fold of :func:`correlate_tasks_stream`."""
    if state.hasTimedOut:
        started, t_start_us, n, cents, cur_ts, n_cur, cents_cur = state.get
        state.remove()
        if started:
            # no close → no t_end bound; pending rows count
            yield _correlate_row(
                key_col, key[0], t_start_us, None, n + n_cur, cents + cents_cur, False
            )
        return
    started, t_start_us, n, cents, cur_ts, n_cur, cents_cur = (
        state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
    )
    for pdf in pdfs:
        for r in _fold_sort(pdf, ts_col).itertuples(index=False):
            ev_type = getattr(r, type_col)
            ts_us = getattr(r, ts_col).value // 1000
            if not started:
                if ev_type == start_value:
                    started, t_start_us, n, cents = 1, ts_us, 0, 0
                    cur_ts, n_cur, cents_cur = ts_us, 0, 0
            elif ev_type == end_value and ts_us >= t_start_us:
                if cur_ts != ts_us:  # strict <t_end: drop same-ts stage
                    n += n_cur
                    cents += cents_cur
                yield _correlate_row(key_col, key[0], t_start_us, ts_us, n, cents, True)
                started, t_start_us, n, cents = 0, 0, 0, 0
                cur_ts, n_cur, cents_cur = 0, 0, 0
            elif ts_us > t_start_us:  # strict >t_start
                if ts_us != cur_ts:
                    n += n_cur
                    cents += cents_cur
                    cur_ts, n_cur, cents_cur = ts_us, 0, 0
                n_cur += 1
                v = getattr(r, value_col)
                # floor(v*100 + 0.5): exact_money_sum rounding —
                # int() would truncate negatives toward zero
                cents_cur += math.floor(v * 100 + 0.5) if v == v else 0
    if started:
        state.update((started, t_start_us, n, cents, cur_ts, n_cur, cents_cur))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
    elif state.exists:
        state.remove()


def correlate_tasks_stream(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    value_col: str,
    start_value: str,
    end_value: str,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Logstash ``aggregate`` filter, full streaming semantics (T6):
    per task key, the START event opens a map in keyed state,
    intermediate events accumulate into it, and the END event emits
    ONE summary row and clears the state.  Tasks whose end never
    arrives are evicted by the processing-time timeout (emitted with
    ``completed = false`` and a NULL ``t_end``) — the Logstash
    ``timeout`` + ``push_map_as_event_on_timeout`` behavior.

    Output: (key, t_start, t_end, n_steps, step_value_cents,
    completed).  Step values accumulate as integer cents (the
    ``exact_money_sum`` discipline carried into state).  The batch
    analog of the start/end correlation is the oracle-checked
    ``aggregate_task_correlate`` query; the pipeline step
    ``aggregate`` wraps that plan config-driven.

    Steps follow the batch step's STRICT-BETWEEN rule: only events
    with t_start < ts < t_end count (see the staging-buffer note in
    the loop), so a closed task's summary equals the batch
    ``aggregate`` step's row for the same events.

    Scale: one shuffle on the task key; state is seven int64s per
    OPEN task (closed tasks delete their state immediately), so the
    store is bounded by concurrent in-flight tasks, not history —
    with the timeout as the leak stopper for abandoned tasks.  The
    per-row Python loop inside the Arrow batch is the stateful escape
    hatch's price (control-flow-per-event semantics); throughput is
    per key-batch, and hot keys serialize as usual.

    Checkpoint compatibility: the r3 strict-between fix grew the
    state schema from 4 to 7 int64s; applyInPandasWithState state
    schemas are fixed at checkpoint creation, so restarting from a
    pre-r3 checkpoint requires a FRESH checkpoint directory (state
    rows cannot be migrated in place).
    """
    return keyed_state(
        df, key_col, _correlate_tasks_fold,
        added=(
            "t_start timestamp, t_end timestamp, n_steps long, "
            "step_value_cents long, completed boolean"
        ),
        state=(
            "started long, t_start_us long, n long, cents long, "
            "cur_ts long, n_cur long, cents_cur long"
        ),
        timeout=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
        key_col=key_col, type_col=type_col, ts_col=ts_col, value_col=value_col,
        start_value=start_value, end_value=end_value, timeout_ms=timeout_ms,
    )


def _zscore_anomaly_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, threshold: float,
    min_n: int
):
    """Per-key fold of :func:`zscore_anomaly_stream`."""
    n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        n_prior, zs, flags = [], [], []
        for x in pdf[value_col]:
            if n >= min_n and m2 > 0.0:
                std = math.sqrt(m2 / (n - 1))
                z = (x - mean) / std
            else:
                z = None
            n_prior.append(n)
            zs.append(z)
            flags.append(z is not None and abs(z) > threshold)
            n += 1
            d = x - mean
            mean += d / n
            m2 += d * (x - mean)
        pdf["n_prior"] = n_prior
        pdf["z"] = pd.array(zs, dtype="float64")
        pdf["is_anomaly"] = flags
        yield pdf
    state.update((n, mean, m2))


def zscore_anomaly_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    threshold: float = 3.0,
    min_n: int = 10,
) -> DataFrame:
    """Online per-key anomaly detection: Welford running mean/variance
    in GroupState; each event is scored against the distribution of
    all PRIOR events for its key (z = (x - mean)/stddev, flagged when
    |z| > threshold), then folded into the state. The streaming twin
    of the batch `anomaly_mad_outliers` / rolling z-score queries —
    with O(1) state per key (3 numbers) instead of a window buffer.

    Scoring uses the PRE-update statistics, so results are identical
    however the stream is micro-batched (state evolution is a pure
    left fold over the key's events in ``ts_col`` order; rows are
    sorted within each batch and batches must arrive time-ordered,
    as replayed file streams do).

    Scale: one shuffle by key; Welford is numerically stable at any
    count; a hot key serializes through one Python worker — pre-split
    hot keys upstream if a single series outruns one core.
    """
    return keyed_state(
        df, key_col, _zscore_anomaly_fold, keep="input",
        added="n_prior long, z double, is_anomaly boolean",
        state="n long, mean double, m2 double",
        ts_col=ts_col, value_col=value_col, threshold=threshold, min_n=min_n,
    )


def _parse_mg_state(summary_s: str) -> dict[str, int]:
    """Decode a Misra-Gries state blob. Current format is JSON
    (separator packing corrupted tokens containing the separator
    byte — ADVICE r2); blobs from pre-JSON checkpoints
    (\\x1e-separated ``token\\x1fcount`` entries) are detected by
    their non-'{' first byte and migrated on read so restarts across
    the format change keep their counters (ADVICE r3)."""

    def _legacy(blob: str) -> dict[str, int]:
        counters: dict[str, int] = {}
        for entry in blob.split("\x1e"):
            if "\x1f" in entry:
                tok_, cnt_ = entry.rsplit("\x1f", 1)
                counters[tok_] = int(cnt_)
        return counters

    if not summary_s:
        return {}
    if not summary_s.startswith("{"):
        return _legacy(summary_s)
    try:
        return json.loads(summary_s)
    except json.JSONDecodeError:
        # A pre-JSON blob whose first stored token happens to start
        # with '{' is not valid JSON — fall back to the legacy
        # separator parse instead of crashing on restart (ADVICE r4).
        # But ONLY when the blob actually carries the legacy \x1f
        # separator shape: truncated/corrupt JSON must re-raise so
        # state corruption surfaces loudly instead of being silently
        # reinterpreted as empty legacy counters (ADVICE r5).
        if "\x1f" in summary_s:
            return _legacy(summary_s)
        raise


def _heavy_hitters_fold(
    key, pdfs, state: GroupState, *, token_col: str, order_col: str, k: int
):
    """Per-bucket fold of :func:`heavy_hitters_stream`."""
    summary_s, snap = state.get if state.exists else ("", 0)
    counters = _parse_mg_state(summary_s)
    for pdf in pdfs:
        for tok in _fold_sort(pdf, order_col)[token_col]:
            tok = str(tok)
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < k:
                counters[tok] = 1
            else:
                # decrement-all round; drop exhausted counters
                for t in list(counters):
                    counters[t] -= 1
                    if counters[t] == 0:
                        del counters[t]
    snap += 1
    state.update((json.dumps(counters, sort_keys=True), snap))
    yield pd.DataFrame(
        [(key[0], snap, t, c) for t, c in sorted(counters.items())],
        columns=["bucket", "snap", "token", "cnt"],
    )


def heavy_hitters_stream(
    df: DataFrame,
    token_col: str,
    order_col: str,
    k: int = 8,
    n_buckets: int = 16,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: per hash-bucket of the
    token space, a bounded k-counter summary folded across micro-
    batches in GroupState — the streaming twin of the batch
    `heavy_hitters_tokens` / `heavy_hitters_gate` queries.

    Buckets PARTITION the token space (token → one bucket), so each
    bucket's Misra-Gries guarantee holds independently: a surviving
    counter under-estimates its token's true count by at most
    N_bucket/(k+1), and any token with true count above that bound
    survives. Emits the full summary snapshot per bucket per batch,
    tagged with a monotonically increasing ``snap`` — readers take
    the max-snap rows per bucket for the current summary.

    Scale: state is O(k) per bucket regardless of stream length; the
    shuffle is keyed by bucket (raise ``n_buckets`` to spread load —
    each bucket serializes through one Python worker per batch).

    Checkpoint compatibility: summaries from the pre-r3 packed state
    format (\\x1e/\\x1f separators) are detected on read and migrated
    to JSON in place, so restarts across the upgrade keep counters.
    """
    bucketed = df.withColumn(
        "_bucket", F.pmod(F.hash(F.col(token_col)), F.lit(n_buckets)).cast("long")
    )
    return keyed_state(
        bucketed, "_bucket", _heavy_hitters_fold, keep=None,
        added="bucket long, snap long, token string, cnt long",
        state="summary string, snap long",
        token_col=token_col, order_col=order_col, k=k,
    )


def _cusum_changepoint_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, target: float,
    slack: float, threshold: float
):
    """Per-key fold of :func:`cusum_changepoint_stream`."""
    s_pos, s_neg = state.get if state.exists else (0.0, 0.0)
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        pos_out, neg_out, alarms = [], [], []
        for x in pdf[value_col]:
            s_pos = max(0.0, s_pos + (x - target - slack))
            s_neg = max(0.0, s_neg + (target - x - slack))
            fired = s_pos > threshold or s_neg > threshold
            pos_out.append(s_pos)
            neg_out.append(s_neg)
            alarms.append(fired)
            if s_pos > threshold:
                s_pos = 0.0
            if s_neg > threshold:
                s_neg = 0.0
        pdf["s_pos"] = pos_out
        pdf["s_neg"] = neg_out
        pdf["alarm"] = alarms
        yield pdf
    state.update((s_pos, s_neg))


def cusum_changepoint_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 5.0,
) -> DataFrame:
    """CUSUM change-point detection (Page's test), per key: the
    classic sequential drift detector — S⁺ accumulates positive
    deviations max(0, S⁺ + (x − target − slack)), S⁻ the negative
    side, and a crossing of ``threshold`` raises an alarm and RESETS
    the side that fired. A sequential fold (each step depends on the
    last), so it is inexpressible as a window function — GroupState
    is the right home; ``operators/changepoint.py::cusum_batch`` runs
    the same fold once per key through :func:`grouped_fold`.

    Emits one row per event with both statistics and the alarm flag;
    state is two floats per key, identical however the stream is
    micro-batched (rows sorted by ``ts_col`` within batches, batches
    time-ordered as replayed file streams are).

    Scale: one shuffle by key, O(1) state, pure-Python per-row loop
    over Arrow batches (the fold is inherently sequential per key —
    parallelism comes from key count, like all keyed stateful ops).
    """
    return keyed_state(
        df, key_col, _cusum_changepoint_fold, keep="input",
        added="s_pos double, s_neg double, alarm boolean",
        state="s_pos double, s_neg double",
        ts_col=ts_col, value_col=value_col, target=target, slack=slack, threshold=threshold,
    )


def _page_hinkley_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, delta: float,
    lam: float
):
    """Per-key fold of :func:`page_hinkley_stream`."""
    n, total, m, m_min = state.get if state.exists else (0, 0.0, 0.0, 0.0)
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        phs, alarms = [], []
        for x in pdf[value_col]:
            n += 1
            total += x
            mean = total / n
            m += x - mean - delta
            m_min = min(m_min, m)
            ph = m - m_min
            fired = ph > lam
            phs.append(ph)
            alarms.append(fired)
            if fired:
                n, total, m, m_min = 0, 0.0, 0.0, 0.0
        pdf["ph"] = phs
        pdf["alarm"] = alarms
        yield pdf
    state.update((n, total, m, m_min))


def page_hinkley_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    delta: float = 0.5,
    lam: float = 5.0,
) -> DataFrame:
    """Page-Hinkley mean-shift detection, per key: the running-mean
    companion to CUSUM (no target needed — the test tracks the
    stream's own mean): m accumulates (x − mean_so_far − δ), M tracks
    min(m), and m − M > λ alarms and resets. Like CUSUM this is a
    sequential fold (the running mean itself depends on every prior
    row), so GroupState is the natural home.

    State: (n, sum, m, M) — four numbers per key; batching-invariant
    given time-ordered arrival (rows sorted per batch).
    """
    return keyed_state(
        df, key_col, _page_hinkley_fold, keep="input",
        added="ph double, alarm boolean",
        state="n long, total double, m double, m_min double",
        ts_col=ts_col, value_col=value_col, delta=delta, lam=lam,
    )


def _counter_rate_fold(
    key, pdfs, state: GroupState, *, key_col: str, ts_col: str, value_col: str
):
    """Per-series fold of :func:`counter_rate_stream`."""
    has_prev, prev, min_es, max_es, n, resets, cents = (
        state.get if state.exists else (0, 0.0, 0.0, 0.0, 0, 0, 0)
    )
    for pdf in pdfs:
        for r in _fold_sort(pdf, ts_col).itertuples(index=False):
            v = getattr(r, value_col)
            es = getattr(r, ts_col).value / 1e9
            if not n:
                min_es = es
            max_es = es
            n += 1
            if not has_prev:
                inc = 0.0
            elif v >= prev:
                inc = v - prev
            else:
                inc = v
                resets += 1
            cents += math.floor(inc * 100 + 0.5)
            has_prev, prev = 1, v
    state.update((has_prev, prev, min_es, max_es, n, resets, cents))
    rate = (
        round(cents / 100.0 / (max_es - min_es), 6)
        if max_es > min_es else None
    )
    yield pd.DataFrame(
        {
            key_col: [key[0]],
            "n_samples": [n],
            "n_resets": [resets],
            "total_increase_cents": [cents],
            "rate_per_sec": [rate],
        }
    )


def counter_rate_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming PromQL-style ``rate()`` with counter-reset detection —
    the GroupState twin of the batch ``counter_rate_resets`` query
    (T14): per series, each sample's increase is value − prev, or the
    raw value after a drop (reset). State is seven numbers per key
    (prev, span endpoints, counts, cent-exact increase sum); one
    summary row per key per micro-batch carries the running totals, so
    the max-snapshot row always equals the batch aggregate over the
    same prefix — pinned by test_counter_rate_batch_equals_stream.

    Scale: one shuffle on the series key, O(1) state; the per-row
    Python fold is the sequential-semantics price, parallel across
    series as usual.
    """
    return keyed_state(
        df, key_col, _counter_rate_fold,
        added="n_samples long, n_resets long, total_increase_cents long, rate_per_sec double",
        state=(
            "has_prev long, prev double, min_es double, max_es double, "
            "n long, resets long, cents long"
        ),
        mode="update", key_col=key_col, ts_col=ts_col, value_col=value_col,
    )


def _holt_linear_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, alpha: float,
    beta: float
):
    """Per-key fold of :func:`holt_linear_stream`."""
    n, lvl, trend, sse = state.get if state.exists else (0, 0.0, 0.0, 0.0)
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        rns, lvls, trends, fcs, sses = [], [], [], [], []
        for x in pdf[value_col]:
            if n == 0:
                lvl, trend, fc = x, 0.0, None
            else:
                fc = lvl + trend
                err = x - fc
                sse = sse + err * err
                new_lvl = alpha * x + (1.0 - alpha) * (lvl + trend)
                trend = beta * (new_lvl - lvl) + (1.0 - beta) * trend
                lvl = new_lvl
            n += 1
            rns.append(n)
            lvls.append(lvl)
            trends.append(trend)
            fcs.append(fc)
            sses.append(sse)
        pdf["rn"] = rns
        pdf["level"] = lvls
        pdf["trend"] = trends
        pdf["forecast"] = pd.array(fcs, dtype="float64")
        pdf["sse_running"] = sses
        yield pdf
    state.update((n, lvl, trend, sse))


def holt_linear_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Streaming Holt double-exponential smoothing, whose fold
    operators/smoothing.py::holt_linear_batch also runs: coupled
    level/trend recurrences fold per key with four numbers of state
    (n, level, trend, sequential SSE); each event emits its rn,
    post-update level/trend, pre-update forecast, and running SSE,
    identical to the one-pass batch run however the stream is
    micro-batched (pinned by test_holt_batch_equals_stream)."""
    return keyed_state(
        df, key_col, _holt_linear_fold, keep="input",
        added="rn long, level double, trend double, forecast double, sse_running double",
        state="n long, lvl double, trend double, sse double",
        ts_col=ts_col, value_col=value_col, alpha=alpha, beta=beta,
    )


def _session_path_fold(
    key, pdfs, state: GroupState, *, key_col: str, ts_col: str, step_col: str,
    gap_ns: int, max_steps: int
):
    """Per-key fold of :func:`session_path_stream`."""
    if state.exists:
        start_ns, last_ns, n, path = state.get
    else:
        start_ns, last_ns, n, path = (-1, -1, 0, "")
    closed: list[tuple[int, int, int, str]] = []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        ts_ns = pdf[ts_col].values.astype("datetime64[ns]").astype("int64")
        steps = pdf[step_col].astype(str).values
        for t, s in zip(ts_ns, steps):
            if start_ns < 0:
                start_ns, last_ns, n, path = (int(t), int(t), 1, s)
            elif t - last_ns > gap_ns:
                closed.append((start_ns, last_ns, n, path))
                start_ns, last_ns, n, path = (int(t), int(t), 1, s)
            else:
                n += 1
                last_ns = int(t)
                if n <= max_steps:
                    path = path + ">" + s
    state.update((start_ns, last_ns, n, path))
    if closed:
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(closed),
                "session_start": pd.to_datetime([c[0] for c in closed]),
                "session_end": pd.to_datetime([c[1] for c in closed]),
                "n_events": [c[2] for c in closed],
                "path": [c[3] for c in closed],
            }
        )


def session_path_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    gap_seconds: int = 1800,
    max_steps: int = 5,
) -> DataFrame:
    """Streaming sessionize-with-path (the stream twin of the batch
    session_path_clusters shape): per key, consecutive events within
    ``gap_seconds`` belong to one session whose first ``max_steps``
    step labels are assembled into a '>'-joined path; an event beyond
    the gap CLOSES the previous session (emitted) and opens a new one.

    Emission contract (append mode): only CLOSED sessions are emitted
    — the trailing open session lives in GroupState until a later
    event closes it. Batch==stream goldens therefore compare against
    the batch sessionization minus each key's final session.

    Determinism: rows fold in (ts, event_id) order per micro-batch
    (_fold_sort); replayed chunks are ts-ordered, so the cross-batch
    fold equals the batch window fold. State is O(1) per key
    (4 scalars + a ≤max_steps path string).
    """
    return keyed_state(
        df, key_col, _session_path_fold,
        added="session_start timestamp, session_end timestamp, n_events long, path string",
        state="start_ns long, last_ns long, n long, path string",
        key_col=key_col, ts_col=ts_col, step_col=step_col,
        gap_ns=int(gap_seconds) * 1_000_000_000, max_steps=max_steps,
    )


def _tdigest_fold(
    key, pdfs, state: GroupState, *, key_col: str, value_col: str, qs: list,
    delta: float
):
    """Per-key fold of :func:`tdigest_stream`."""
    if state.exists:
        means, weights = state.get
        m = np.asarray(means, dtype=np.float64)
        w = np.asarray(weights, dtype=np.float64)
    else:
        m = np.empty(0)
        w = np.empty(0)
    for pdf in pdfs:
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        if len(vals):
            m, w = td.merge([(m, w), td.build(vals, delta=delta)], delta=delta)
    state.update((m.tolist(), w.tolist()))
    row = {key_col: [key[0]]}
    for q in qs:
        row[f"q{int(q * 1000)}"] = [td.quantile(m, w, q)]
    row["n_centroids"] = [int(len(m))]
    row["total_weight"] = [float(w.sum())]
    yield pd.DataFrame(row)


def tdigest_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs=(0.5, 0.9, 0.99),
    delta: float = 100.0,
) -> DataFrame:
    """Streaming t-digest (the GroupState twin of
    operators/tdigest.py): per key, the centroid set lives in state as
    two double arrays; each micro-batch's values are digested and
    MERGED into it (the same k1 compress as batch — mergeability is
    the whole point of the sketch), and an updated quantile snapshot
    is emitted per batch (update mode).

    State is O(δ) per key forever — the streaming quantile story that
    neither watermarked windows (which evict) nor exact percentiles
    (unbounded state) can tell. Fold order differs from the batch
    shard build, so snapshots are compared against ACCURACY contracts
    (rank error ≤ 2%), not bitwise equality — same discipline as the
    batch gate.
    """
    q_fields = ", ".join(f"q{int(q * 1000)} double" for q in qs)
    return keyed_state(
        df, key_col, _tdigest_fold,
        added=f"{q_fields}, n_centroids int, total_weight double",
        state="means array<double>, weights array<double>", mode="update",
        key_col=key_col, value_col=value_col, qs=list(qs), delta=delta,
    )


def _decayed_topk_fold(
    key, pdfs, state: GroupState, *, token_col: str, ts_col: str, hl_ns: float, k: int,
    max_tokens: int
):
    """Per-key fold of :func:`decayed_topk_stream`."""
    blob, snap = state.get if state.exists else ("", 0)
    w: dict[str, list] = json.loads(blob) if blob else {}
    max_ts = max((v[1] for v in w.values()), default=0)
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        ts_ns = pdf[ts_col].values.astype("datetime64[ns]").astype("int64")
        toks = pdf[token_col].astype(str).values
        for t, tok in zip(ts_ns, toks):
            t = int(t)
            max_ts = max(max_ts, t)
            if tok in w:
                wt, ref = w[tok]
                w[tok] = [wt * 2.0 ** (-(t - ref) / hl_ns) + 1.0, t]
            else:
                w[tok] = [1.0, t]
        if len(w) > max_tokens:
            decayed = {
                tok: wt * 2.0 ** (-(max_ts - ref) / hl_ns)
                for tok, (wt, ref) in w.items()
            }
            keep = sorted(decayed, key=lambda x: (-decayed[x], x))[:max_tokens]
            w = {tok: w[tok] for tok in keep}
    snap += 1
    state.update((json.dumps(w, sort_keys=True), snap))
    decayed = sorted(
        (
            (tok, wt * 2.0 ** (-(max_ts - ref) / hl_ns))
            for tok, (wt, ref) in w.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    yield pd.DataFrame(
        [(str(key[0]), snap, tok, round(wt, 6)) for tok, wt in decayed],
        columns=["key", "snap", "token", "weight"],
    )


def decayed_topk_stream(
    df: DataFrame,
    key_col: str,
    token_col: str,
    ts_col: str,
    half_life_seconds: float = 21600.0,
    k: int = 5,
    max_tokens: int = 1024,
) -> DataFrame:
    """Streaming top-k with exponential decay: per key, token weights
    decay by 2^(−Δt/half_life) in EVENT time and gain +1 per
    occurrence — trending-now semantics where yesterday's flood ranks
    below this hour's trickle. Emits the current top-k snapshot per
    key per batch (weights decayed to the key's max seen event time),
    tagged with a monotonically increasing ``snap``.

    Decay uses event time exclusively (never wall clock) and rows fold
    in (ts, event_id) order, so the final snapshot is deterministic
    and — as long as ``max_tokens`` isn't hit — batching-invariant:
    per token the fold is (multiply-by-decay, add-1) in timestamp
    order regardless of micro-batch boundaries. ``max_tokens`` bounds
    state per key; when exceeded, the lightest tokens are pruned
    (standard decayed-counter approximation — pruned tokens restart
    from 0, a bounded underestimate like Misra-Gries).

    State: JSON token → (weight, ref_ts_ns), O(max_tokens) per key.
    """
    return keyed_state(
        df, key_col, _decayed_topk_fold, keep=None,
        added="key string, snap long, token string, weight double",
        state="blob string, snap long",
        token_col=token_col, ts_col=ts_col, hl_ns=float(half_life_seconds) * 1e9,
        k=k, max_tokens=max_tokens,
    )


def _kll_quantile_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, qs: list, k: int
):
    """Per-key fold of :func:`kll_quantile_stream`."""
    blob, snap = state.get if state.exists else ("", 0)
    if blob:
        d = json.loads(blob)
        sk = KLL.deserialize(d["items"], d["levels"], d["flips"], k=k)
    else:
        sk = KLL(k=k)
    for pdf in pdfs:
        sk.update_batch(_fold_sort(pdf, ts_col)[value_col].to_numpy())
    snap += 1
    items, levels, flips = sk.serialize()
    state.update(
        (json.dumps({"items": items, "levels": levels, "flips": flips}), snap)
    )
    row = {
        "key": [str(key[0])],
        "snap": [snap],
        "total_weight": [sk.total_weight()],
        "n_retained": [sk.n_retained()],
    }
    for q in qs:
        row[f"q{int(q * 1000)}"] = [sk.quantile(q)]
    yield pd.DataFrame(row)


def kll_quantile_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    qs=(0.5, 0.99),
    k: int = 200,
) -> DataFrame:
    """Streaming quantile monitor: a per-key KLL sketch
    (operators/kll.py — deterministic coins) folded across
    micro-batches in GroupState; after each batch the key emits a
    snapshot row with the current quantile estimates, total weight,
    and retained-item count. The streaming twin of the batch
    kll_quantiles build — O(k·log(n/k)) state per key forever, where
    a windowed exact percentile would buffer the stream.

    Determinism: the sketch is a pure fold over the sequence of
    micro-batches (rows sorted by (ts, event_id-free) _fold_sort
    within each batch; KLL.update_batch is input-order-invariant
    inside a batch) — replaying the same files with the same batch
    boundaries reproduces the state bit-for-bit (pinned by
    tests/test_streaming.py::test_kll_stream_matches_offline_fold).
    Batch-boundary INDEPENDENCE is deliberately not claimed: KLL
    compaction points depend on arrival chunking (any one sketch is
    valid; the rank guarantee holds regardless — also pinned).

    Scale: one shuffle by key; state is a few hundred doubles per
    key; JSON-serialized (separator-safe, same discipline as
    heavy_hitters_stream).
    """
    q_fields = "".join(f", q{int(q * 1000)} double" for q in qs)
    return keyed_state(
        df, key_col, _kll_quantile_fold, keep=None,
        added=f"key string, snap long, total_weight double, n_retained int{q_fields}",
        state="blob string, snap long",
        ts_col=ts_col, value_col=value_col, qs=list(qs), k=k,
    )


def _alert_fsm_fold(
    key, pdfs, state: GroupState, *, key_col: str, order_col: str, breach_col: str,
    raise_after: int, clear_after: int
):
    """Per-key fold of :func:`alert_fsm_stream`."""
    alert, cb, cg, n_obs, n_breach, n_alert, n_supp = (
        state.get if state.exists else (0, 0, 0, 0, 0, 0, 0)
    )
    for pdf in pdfs:
        for r in _fold_sort(pdf, order_col).itertuples(index=False):
            b = int(getattr(r, breach_col))
            if alert == 0 and b == 1 and cb + 1 >= raise_after:
                alert = 1
            elif alert == 1 and b == 0 and cg + 1 >= clear_after:
                alert = 0
            cb = cb + 1 if b == 1 else 0
            cg = cg + 1 if b == 0 else 0
            n_obs += 1
            n_breach += b
            n_alert += alert
            n_supp += 1 if (alert == 1 and b == 0) else 0
    state.update((alert, cb, cg, n_obs, n_breach, n_alert, n_supp))
    yield pd.DataFrame(
        {
            key_col: [key[0]],
            "n_obs": [n_obs],
            "n_breach": [n_breach],
            "n_alert": [n_alert],
            "n_suppressed": [n_supp],
            "alert_now": [alert],
        }
    )


def alert_fsm_stream(
    df: DataFrame,
    key_col: str,
    order_col: str,
    breach_col: str,
    raise_after: int = 3,
    clear_after: int = 2,
) -> DataFrame:
    """Streaming alert flap suppression — the GroupState twin of the
    batch ``alert_flap_suppression_fsm`` query's JVM fold: per key,
    a breach must persist ``raise_after`` consecutive observations to
    RAISE and ``clear_after`` quiet ones to CLEAR. State is five
    integers (alert flag, two run counters, alert-day and
    suppressed-clear totals); each micro-batch emits the running
    census row, so the max-snapshot row equals the batch fold over
    the same prefix regardless of micro-batching (pinned by
    test_alert_fsm_batch_equals_stream).

    Scale: one shuffle on the key, O(1) state; input is expected to
    be the pre-aggregated breach series (e.g. daily flags), not raw
    events — the same contract as the batch query.
    """
    return keyed_state(
        df, key_col, _alert_fsm_fold,
        added="n_obs long, n_breach long, n_alert long, n_suppressed long, alert_now long",
        state=(
            "alert long, cb long, cg long, n_obs long, "
            "n_breach long, n_alert long, n_supp long"
        ),
        mode="update", key_col=key_col, order_col=order_col, breach_col=breach_col,
        raise_after=raise_after, clear_after=clear_after,
    )


def _kalman_level_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, q_var: float,
    r_var: float
):
    """Per-key fold of :func:`kalman_level_stream`."""
    n, x, p = state.get if state.exists else (0, 0.0, 0.0)
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        rns, xs, ps, ks = [], [], [], []
        for z in pdf[value_col]:
            if n == 0:
                x, p, k = z, r_var, None
            else:
                pp = p + q_var
                k = pp / (pp + r_var)
                x = x + k * (z - x)
                p = (1.0 - k) * pp
            n += 1
            rns.append(n)
            xs.append(x)
            ps.append(p)
            ks.append(k)
        pdf["rn"] = rns
        pdf["level"] = xs
        pdf["variance"] = ps
        pdf["gain"] = pd.array(ks, dtype="float64")
        yield pdf
    state.update((n, x, p))


def kalman_level_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    q_var: float = 100000.0,
    r_var: float = 1000000.0,
) -> DataFrame:
    """Streaming 1-D Kalman level filter, whose fold
    operators/smoothing.py::kalman_level_batch also runs: per key the
    carried state is three numbers (n, level x, variance P); each event
    runs predict P'=P+Q, gain K=P'/(P'+R), update x+=K(z−x), P=(1−K)P'
    and emits (rn, level, variance, gain), identical to the one-pass
    batch run and to the JVM fold of kalman_level_filter_check however
    the stream is micro-batched (pinned by
    test_kalman_batch_equals_stream). The data-adaptive gain is the
    point: after a restart the state picks up mid-Riccati instead of
    re-warming like a fixed-α EWMA would."""
    return keyed_state(
        df, key_col, _kalman_level_fold, keep="input",
        added="rn long, level double, variance double, gain double",
        state="n long, x double, p double",
        ts_col=ts_col, value_col=value_col, q_var=q_var, r_var=r_var,
    )


def _hmm_burst_fold(
    key, pdfs, state: GroupState, *, ts_col: str, k_col: str, lam0_col: str
):
    """Per-key fold of :func:`hmm_burst_stream`."""
    n, L = state.get if state.exists else (0, _hmm_init())
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        rns, lods, pbs = [], [], []
        for k, lam0 in zip(pdf[k_col], pdf[lam0_col]):
            L = hmm_step_py(L, int(k), float(lam0))
            lo = max(min(L, _HMM_CLAMP), -_HMM_CLAMP)
            n += 1
            rns.append(n)
            lods.append(_round_half_away(lo, 6))
            pbs.append(_round_half_away(1.0 / (1.0 + math.exp(-lo)), 6))
        pdf["rn"] = rns
        pdf["log_odds"] = lods
        pdf["p_burst"] = pbs
        yield pdf
    state.update((n, L))


def hmm_burst_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    k_col: str,
    lam0_col: str,
) -> DataFrame:
    """Streaming 2-state HMM burst filter, whose fold
    operators/smoothing.py::hmm_forward_batch also runs (the registered
    JVM-fold query hmm_burst_forward_filter is its independent twin):
    per key the carried
    state is (n, log-odds L); each arriving count runs one forward
    step L' = round6(ln((p01+p11·e^L)/(p00+p10·e^L)) + k·ln(mult)
    − (mult−1)·λ0) and emits (rn, log_odds, p_burst = σ(L)). λ0 is a
    column (the offline-trained base rate joined onto the stream —
    model-as-a-dimension deployment). The per-step 6-decimal state
    requantization makes the stream bit-equal to the JVM fold
    across any micro-batch boundary (test_hmm_batch_equals_stream);
    state is O(1) per key and restart-safe like every fold here."""
    return keyed_state(
        df, key_col, _hmm_burst_fold, keep="input",
        added="rn long, log_odds double, p_burst double", state="n long, l double",
        ts_col=ts_col, k_col=k_col, lam0_col=lam0_col,
    )


def _forecast_error_fold(
    key, pdfs, state: GroupState, *, ts_col: str, value_col: str, season: int
):
    """Per-key fold of :func:`forecast_error_stream`."""
    if state.exists:
        n, ring_json = state.get
        ring = json.loads(ring_json)
    else:
        n, ring = 0, []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        rns, naives, snaives = [], [], []
        for v in pdf[value_col]:
            v = int(v)
            naives.append(abs(v - ring[-1]) if ring else None)
            snaives.append(
                abs(v - ring[-season]) if len(ring) >= season else None
            )
            ring.append(v)
            if len(ring) > season:
                ring = ring[-season:]
            n += 1
            rns.append(n)
        pdf["rn"] = rns
        pdf["ae_naive"] = pd.array(naives, dtype="Int64")
        pdf["ae_snaive"] = pd.array(snaives, dtype="Int64")
        yield pdf
    state.update((n, json.dumps(ring)))


def forecast_error_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Streaming forecast-error monitor — the in-stream twin of the
    batch backtest (queries/forecast_extra.py): per key the state is
    the last value plus a ``season``-slot ring of trailing values;
    each arriving observation is scored against the NAIVE forecast
    (previous value) and the SEASONAL-NAIVE forecast (value one full
    season back) BEFORE being folded into state — the
    prior-events-only invariant every online monitor here follows.
    Emits (rn, ae_naive, ae_snaive) with NULLs until each baseline
    has enough history; integer errors, so batch≡stream equality is
    exact (test_forecast_error_batch_equals_stream). State is O(season)
    per key; a model's own predictions would join in as a dimension
    and score identically."""
    return keyed_state(
        df, key_col, _forecast_error_fold, keep="input",
        added="rn long, ae_naive long, ae_snaive long", state="n long, ring string",
        ts_col=ts_col, value_col=value_col, season=season,
    )


def _token_bucket_fold(
    key, pdfs, state: GroupState, *, ts_col: str, cap_milli: int,
    refill_per_sec_milli: int
):
    """Per-key fold of :func:`token_bucket_stream`."""
    if state.exists:
        tokens, last = state.get
        last = None if last < 0 else last  # -1 encodes "no event yet"
    else:
        tokens, last = cap_milli, None
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col).copy()
        secs = (pdf[ts_col].astype("int64") // 1_000_000_000).astype(
            "int64"
        )
        keep, toks = [], []
        for t in secs:
            t = int(t)
            if last is not None and t > last:
                tokens = min(cap_milli, tokens + (t - last) * refill_per_sec_milli)
            # Refill clock only moves FORWARD: an out-of-order event
            # arriving in a later micro-batch with t < last must not
            # rewind it, else the next in-order event re-credits refill
            # time already granted and over-admits past the bucket rate
            # (ADVICE r4). Late events still spend a token if available.
            last = t if last is None else max(last, t)
            if tokens >= 1000:
                tokens -= 1000
                keep.append(True)
                toks.append(tokens)
            else:
                keep.append(False)
                toks.append(None)
        pdf["tokens_after_milli"] = pd.array(toks, dtype="Int64")
        out = pdf[pd.Series(keep, index=pdf.index)]
        if len(out):
            yield out
    state.update((tokens, -1 if last is None else last))


def token_bucket_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    capacity: int = 5,
    refill_per_sec_milli: int = 100,
) -> DataFrame:
    """Streaming token-bucket rate limiter — the REFILL-based
    admission policy (throttle_stream_periodic is the fixed-window
    counter; a token bucket smooths bursts instead of resetting at
    bucket edges, the semantics of every API gateway / Guava
    RateLimiter): per key the state is (milli-tokens, last event-time
    second); each event first refills min(capacity,
    tokens + Δt·rate), then is ADMITTED iff a full token (1000 milli)
    is available, paying one token. All arithmetic is INTEGER
    (milli-tokens × whole seconds), so the fold is bit-exact across
    any micro-batch split (batching-invariance golden) and restart.
    Emits admitted rows with tokens_after_milli; rejected rows are
    dropped (route them to a DLQ by diffing against the input).
    State is O(1) per key."""
    return keyed_state(
        df, key_col, _token_bucket_fold, keep="input",
        added="tokens_after_milli long", state="tokens long, last long",
        ts_col=ts_col, cap_milli=capacity * 1000, refill_per_sec_milli=refill_per_sec_milli,
    )


def _round6(x):
    s = 1000000.0
    return (
        math.floor(x * s + 0.5) / s
        if x >= 0
        else -math.floor(-x * s + 0.5) / s
    )


def _slo_burn_row(key_col, key, ring, hr, n, e):
    window = ring + [(hr, n, e)]
    n6 = sum(nn for (h, nn, _) in window if h > hr - 6)
    e6 = sum(ee for (h, _, ee) in window if h > hr - 6)
    n24 = sum(nn for (h, nn, _) in window if h > hr - 24)
    e24 = sum(ee for (h, _, ee) in window if h > hr - 24)
    return {
        key_col: key,
        "hr": hr,
        "n": n,
        "e": e,
        "burn_1h": _round6(4.0 * e / n),
        "burn_6h": _round6(4.0 * e6 / n6),
        "burn_24h": _round6(4.0 * e24 / n24),
        "fast_alert": bool(4 * e >= n and 4 * e6 >= n6),
        "slow_alert": bool(40 * e6 >= 9 * n6 and 40 * e24 >= 9 * n24),
    }


def _slo_burn_fold(
    key, pdfs, state: GroupState, *, key_col: str, ts_col: str, error_col: str
):
    """Per-key fold of :func:`slo_burn_stream`."""
    if state.exists:
        cur_hr, n, e, ring_json = state.get
        ring = [tuple(x) for x in json.loads(ring_json)]
        cur = None if cur_hr < 0 else cur_hr
    else:
        cur, n, e, ring = None, 0, 0, []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        hrs = (pdf[ts_col].astype("int64") // 1_000_000_000 // 3600).astype(
            "int64"
        )
        errs = pdf[error_col].astype("int64")
        rows = []
        for h, is_e in zip(hrs, errs):
            h = int(h)
            if cur is not None and h > cur:
                rows.append(_slo_burn_row(key_col, key[0], ring, cur, n, e))
                ring = [r for r in ring + [(cur, n, e)] if r[0] > cur - 24]
                n, e = 0, 0
                cur = h
            elif cur is None:
                cur = h
            elif h < cur:
                # Late event for an already-closed hour (crossed a
                # micro-batch boundary): folding it into the OPEN
                # hour would misattribute the error and skew the 1h
                # burn rate (ADVICE r4). Merge into the matching
                # ring entry so FUTURE 6h/24h sums use corrected
                # counts (the closed hour's own row was already
                # emitted and is not retracted). A late event for
                # an hour with NO ring entry — a gap hour that saw
                # zero on-time events — appends a fresh sorted
                # entry rather than being dropped (ADVICE r5);
                # only hours aged past the 24h horizon are dropped.
                if h > cur - 24:
                    if any(rh == h for (rh, _, _) in ring):
                        ring = [
                            (
                                (rh, rn + 1, re_ + int(is_e))
                                if rh == h
                                else (rh, rn, re_)
                            )
                            for (rh, rn, re_) in ring
                        ]
                    else:
                        ring = sorted(ring + [(h, 1, int(is_e))])
                continue
            n += 1
            e += int(is_e)
        if rows:
            yield pd.DataFrame(rows)
    state.update(
        (
            -1 if cur is None else cur,
            n,
            e,
            json.dumps([list(r) for r in ring]),
        )
    )


def slo_burn_stream(
    df: DataFrame,
    ts_col: str,
    error_col: str,
    key_col: str,
) -> DataFrame:
    """Streaming multiwindow SLO burn-rate monitor — the GroupState
    twin of queries/opsstat_extra.py::slo_multiwindow_burn_timeline:
    per key the state is the OPEN hour's (n, e) counters plus a ring
    of the last 23 closed hours; when an event arrives in a LATER
    hour the open hour closes and emits its burn row — 1 h / 6 h /
    24 h rates over the ring with the same RANGE semantics as the
    batch window (missing hours widen the lookback because the ring
    keys are hour INDEXES, not positions). Alert decisions are the
    identical integer inequalities (4e ≥ n, 40e ≥ 9n), so emitted
    rows bit-match the batch timeline
    (test_slo_burn_stream_matches_batch). State is O(24) per key;
    the still-open hour emits on the next hour's first arrival."""
    return keyed_state(
        df, key_col, _slo_burn_fold,
        added=(
            "hr long, n long, e long, burn_1h double, burn_6h double, "
            "burn_24h double, fast_alert boolean, slow_alert boolean"
        ),
        state="cur long, n long, e long, ring string",
        key_col=key_col, ts_col=ts_col, error_col=error_col,
    )


def _conformal_monitor_fold(
    key, pdfs, state: GroupState, *, day_col: str, x_col: str, season: int, min_cal: int
):
    """Per-key fold of :func:`conformal_monitor_stream`."""
    if state.exists:
        rn, ring_json, cal_json = state.get
        ring = json.loads(ring_json)
        cal = json.loads(cal_json)
    else:
        rn, ring, cal = 0, [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(day_col, kind="mergesort")
        rows = []
        for x in pdf[x_col].astype("int64"):
            x = int(x)
            rn += 1
            if len(ring) == season:
                pred = ring[0]
                r = abs(x - pred)
                n_cal = len(cal)
                if n_cal >= min_cal:
                    k = math.ceil(0.9 * (n_cal + 1))
                    q90 = cal[k - 1]
                    rows.append(
                        {
                            "k": key[0],
                            "rn": rn,
                            "x": x,
                            "pred": pred,
                            "r": r,
                            "n_cal": n_cal,
                            "q90": q90,
                            "covered": r <= q90,
                        }
                    )
                bisect.insort(cal, r)
                ring = ring[1:] + [x]
            else:
                ring = ring + [x]
        if rows:
            yield pd.DataFrame(rows)
    state.update((rn, json.dumps(ring), json.dumps(cal)))


def conformal_monitor_stream(
    df: DataFrame,
    key_col: str,
    day_col: str,
    x_col: str,
    season: int = 7,
    min_cal: int = 9,
) -> DataFrame:
    """Streaming ONLINE split-conformal monitor — the GroupState twin
    of queries/forecast_extra.py::conformal_monitor_timeline: per key
    the state is a ring of the last ``season`` values (the
    seasonal-naive predictor) plus the SORTED multiset of all
    residuals seen so far (the expanding calibration set). Each
    incoming (key, day, x) point is first SCORED against the current
    q̂ = the ⌈0.9(n_cal+1)⌉-th smallest calibration residual — the
    k-th order-statistic VALUE is tie-order invariant, so a plain
    sorted list agrees exactly with the batch twin's (r, rn) ranked
    selection — and only then has its own residual admitted to the
    calibration set (test-then-update, the adaptive-conformal
    deployment order). Warmup points with n_cal < ``min_cal`` are
    consumed into state but not emitted, matching the batch twin's
    n_cal >= 9 filter.

    All state is integer (values and residuals), so the fold is
    bit-exact across any micro-batch split and restart. State grows
    O(days) per key — bounded by the calendar at daily grain
    (~365/key/year); cap with a sliding calibration window if keys
    outlive years. Input must be replayed in day order per key, like
    the other sequential folds.
    """
    return keyed_state(
        df, key_col, _conformal_monitor_fold, keep=None,
        added=(
            "k string, rn long, x long, pred long, r long, "
            "n_cal long, q90 long, covered boolean"
        ),
        state="rn long, ring string, cal string",
        day_col=day_col, x_col=x_col, season=season, min_cal=min_cal,
    )


def _es_key(ident: int, w: int) -> float:
    h = hashlib.md5(str(ident).encode()).hexdigest()[:8]
    u = (int(h, 16) + 0.5) / 4294967296.0
    return math.log(u) / w


def _reservoir_es_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    id_col: str,
    weight_col: str,
    k: int,
) -> Iterator[pd.DataFrame]:
    """Reservoir fold of :func:`reservoir_es_stream`."""
    if state.exists:
        seq, blob = state.get
        res = [tuple(r) for r in json.loads(blob)]
    else:
        seq, res = 0, []
    for pdf in pdfs:
        for ident, w in zip(
            pdf[id_col].astype("int64"), pdf[weight_col].astype("int64")
        ):
            ident, w = int(ident), int(w)
            res.append((_es_key(ident, w), ident, w))
        # top-k under (key DESC, id ASC); rebuilt per batch from
        # <= k + batch rows — membership is order-free
        res.sort(key=lambda t: (-t[0], t[1]))
        del res[k:]
    seq += 1
    state.update((seq, json.dumps([list(t) for t in res])))
    yield pd.DataFrame(
        {
            "seq": [seq] * len(res),
            "id": [t[1] for t in res],
            "weight": [t[2] for t in res],
            "es_key": [t[0] for t in res],
        }
    )


def reservoir_es_stream(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = 20,
) -> DataFrame:
    """Streaming weighted reservoir sampling WITHOUT replacement —
    the GroupState twin of queries/analysis_extra.py::
    weighted_sample_es_topk (Efraimidis-Spirakis): every row gets the
    deterministic key ln(u)/w with u minted from md5(id) (the exact
    positional-parse construction of functions/sampling.py::
    md5_uniform, so the stream and the batch query rank by the SAME
    numbers), and the state is simply the current top-k under the
    (key DESC, id ASC) total order — O(k) per group, invariant to
    micro-batching because membership in a top-k is order-free.

    Each micro-batch emits the FULL current reservoir tagged with a
    state sequence number; the rows with the max seq are the live
    sample (update-style emission, like accumulate_stream). After
    replaying a table the final reservoir equals the batch top-k
    exactly — the equality golden.

    Scale: this fold groups everything under one constant key here
    (bounded state, but one Python worker); shard real corpora by
    stratum key and take per-stratum reservoirs, which is what the
    batch stratified variant does with a partitioned window.
    """
    return keyed_state(
        df.withColumn("_g", F.lit("all")), "_g", _reservoir_es_fold, keep=None,
        added="seq long, id long, weight long, es_key double",
        state="seq long, blob string",
        mode="update", id_col=id_col, weight_col=weight_col, k=k,
    )


def _kll_quantile_monitor_fold(
    key, pdfs, state: GroupState, *, key_col: str, value_col: str, qs: tuple, k: int
):
    """Per-key fold of :func:`kll_quantile_monitor_stream`."""
    if state.exists:
        seq, n_seen, items_j, levels_j, flips = state.get
        sk = KLL.deserialize(
            json.loads(items_j), json.loads(levels_j), flips, k=k
        )
    else:
        seq, n_seen, sk = 0, 0, KLL(k=k)
    for pdf in pdfs:
        vals = pdf[value_col].to_numpy(dtype="float64")
        vals = vals[~np.isnan(vals)]
        if len(vals):
            sk.update_batch(vals)
            n_seen += len(vals)
    seq += 1
    items, levels, flips = sk.serialize()
    state.update(
        (seq, n_seen, json.dumps(items), json.dumps(levels), flips)
    )
    yield pd.DataFrame(
        {
            key_col: [key[0]] * len(qs),
            "seq": [seq] * len(qs),
            "q": list(qs),
            "estimate": [sk.quantile(q) for q in qs],
            "n_seen": [n_seen] * len(qs),
        }
    )


def kll_quantile_monitor_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: tuple = (0.5, 0.9, 0.99),
    k: int = 200,
) -> DataFrame:
    """Streaming quantile monitor — a KLL sketch (operators/kll.py,
    deterministic compaction coins) carried in GroupState per key:
    each micro-batch folds its values into the sketch and emits the
    current quantile estimates with the running count, giving live
    p50/p95/p99 telemetry with O(k·log(n/k)) state per key — the
    streaming twin the batch sketch family (KLL/t-digest/GK gates)
    was missing.

    Guarantees: the sketch is deterministic given the sequence of
    micro-batch value-sets (no RNG), but unlike the integer folds it
    is NOT bit-invariant to how the stream is batched — compaction
    boundaries shift. What holds — and what the golden asserts — is
    the KLL rank guarantee: the TRUE rank of every emitted estimate
    stays within a few percent of the requested quantile, for any
    batching. State round-trips through the (items, levels, flips)
    serialization, so checkpoint-restart resumes the exact sketch.

    Scale: one shuffle by key; Python cost is per key-batch
    (Arrow-batched numpy); a million keys is a million independent
    O(k log n) sketches in the state store.
    """
    return keyed_state(
        df, key_col, _kll_quantile_monitor_fold,
        added="seq long, q double, estimate double, n_seen long",
        state="seq long, n_seen long, items string, levels string, flips long",
        mode="update", key_col=key_col, value_col=value_col, qs=qs, k=k,
    )


def _tdigest_quantile_monitor_fold(
    key, pdfs, state: GroupState, *, key_col: str, value_col: str, qs: tuple,
    delta: float
):
    """Per-key fold of :func:`tdigest_quantile_monitor_stream`."""
    if state.exists:
        seq, n_seen, means_j, weights_j = state.get
        means = np.asarray(json.loads(means_j), dtype="float64")
        weights = np.asarray(json.loads(weights_j), dtype="float64")
    else:
        seq, n_seen = 0, 0
        means = np.empty(0)
        weights = np.empty(0)
    for pdf in pdfs:
        vals = pdf[value_col].to_numpy(dtype="float64")
        vals = vals[~np.isnan(vals)]
        if len(vals):
            bm, bw = td.build(vals, delta=delta)
            if len(means):
                means, weights = td.merge(
                    [(means, weights), (bm, bw)], delta=delta
                )
            else:
                means, weights = bm, bw
            n_seen += len(vals)
    seq += 1
    state.update(
        (
            seq,
            n_seen,
            json.dumps(list(map(float, means))),
            json.dumps(list(map(float, weights))),
        )
    )
    yield pd.DataFrame(
        {
            key_col: [key[0]] * len(qs),
            "seq": [seq] * len(qs),
            "q": list(qs),
            "estimate": [
                td.quantile(means, weights, q) for q in qs
            ],
            "n_seen": [n_seen] * len(qs),
        }
    )


def tdigest_quantile_monitor_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: tuple = (0.5, 0.9, 0.99),
    delta: float = 100.0,
) -> DataFrame:
    """Streaming quantile monitor carried as a t-digest — the
    merging-digest twin of `kll_quantile_monitor_stream`, closing the
    quantile-monitor pair (KLL gives a worst-case RANK guarantee;
    the t-digest concentrates capacity at the tails via the k1 scale
    function, so p99/p999 stay tight where a uniform sketch goes
    coarse). Per key the GroupState holds one centroid set
    (means, weights — O(δ) floats); each micro-batch digests its
    values (operators/tdigest.build) and MERGES into the carried
    digest (operators/tdigest.merge — the same recompress the batch
    shard-merge uses), then emits the current quantile estimates
    with the running count.

    Determinism: build/merge/quantile are pure deterministic numpy
    (mergesort, fixed greedy scan — no RNG), so the digest is a
    function of the micro-batch value-set sequence; like KLL it is
    not bit-invariant to re-batching (compression boundaries shift),
    but the accuracy contract — true rank of every estimate within a
    few percent of the requested quantile, tighter at the tails —
    holds for any batching, and state round-trips exactly through
    the JSON (means, weights) serialization so checkpoint-restart
    resumes the identical digest.

    Scale: one shuffle by key; O(δ) state per key regardless of
    stream length; a million keys is a million independent digests
    in the state store.
    """
    return keyed_state(
        df, key_col, _tdigest_quantile_monitor_fold,
        added="seq long, q double, estimate double, n_seen long",
        state="seq long, n_seen long, means string, weights string",
        mode="update", key_col=key_col, value_col=value_col, qs=qs, delta=delta,
    )


def _dgim_window_count_fold(
    key, pdfs, state: GroupState, *, key_col: str, ts_col: str, window_s: int
):
    """Per-key fold of :func:`dgim_window_count_stream`."""
    if state.exists:
        seq, last_ts, bj = state.get
        buckets = [tuple(b) for b in json.loads(bj)]  # (ts, size) newest-first
    else:
        seq, last_ts, buckets = 0, -1, []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        tss = (
            pdf[ts_col].astype("int64") // 1_000_000_000
        ).astype("int64")
        for t in tss:
            t = int(t)
            if t > last_ts:
                last_ts = t
            # new singleton bucket at the front (newest)
            buckets.insert(0, (t, 1))
            # cascade: when 3 buckets share a size, merge the two
            # OLDEST of that size into one of double size stamped
            # with the NEWER of the two (the newest 1 it covers)
            size = 1
            while True:
                idxs = [
                    i for i, (_, s) in enumerate(buckets) if s == size
                ]
                if len(idxs) <= 2:
                    break
                i2, i1 = idxs[-1], idxs[-2]  # two oldest
                merged = (buckets[i1][0], size * 2)
                del buckets[i2]
                buckets[i1] = merged
                size *= 2
            # expire buckets wholly outside the window
            lo = last_ts - window_s
            buckets = [(ts, s) for (ts, s) in buckets if ts > lo]
    seq += 1
    if buckets:
        est = sum(s for _, s in buckets) - buckets[-1][1] // 2
    else:
        est = 0
    state.update(
        (seq, last_ts, json.dumps([list(b) for b in buckets]))
    )
    yield pd.DataFrame(
        {
            key_col: [key[0]],
            "seq": [seq],
            "last_ts": [last_ts],
            "est_count": [est],
            "n_buckets": [len(buckets)],
        }
    )


def dgim_window_count_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_s: int = 3600,
) -> DataFrame:
    """DGIM / exponential-histogram sliding-window counter
    (Datar-Gionis-Indyk-Motwani, "Maintaining Stream Statistics over
    Sliding Windows", SODA'02): per key, the count of events in the
    trailing ``window_s`` seconds of EVENT time is maintained in
    O(log² W) state — buckets of power-of-two sizes, at most two per
    size, each stamped with the newest event it covers; when a third
    bucket of a size appears, the two OLDEST merge into the next
    size. Buckets whose stamp falls out of the window expire whole.
    The estimate is (sum of unexpired bucket sizes) − half the oldest
    unexpired bucket — the classic ≤ 50% worst-case relative error,
    typically far tighter; the exact answer would need the full event
    multiset, this needs ~2·log₂(W)² longs per key.

    The third member of the streaming-sketch family (Misra-Gries
    heavy hitters, KLL/t-digest quantiles) — the one that answers
    WINDOWED counts without windowed state. Folding is pure integer
    arithmetic in arrival order, so the monitor is deterministic
    given the micro-batch sequence, and the (last_ts, buckets) state
    JSON round-trips exactly across checkpoint restarts.

    Ordering contract (classic DGIM assumes arrival order == window
    order): batches are sorted by event time before folding, so only
    CROSS-batch disorder reaches the fold; a late event is stamped
    with its own event time (it still expires correctly and never
    rewinds ``last_ts``), at the cost of transiently bending the
    sizes-nondecreasing-with-age invariant — the error bound's worst
    case is unaffected because expiry and the half-oldest correction
    depend on stamps, not positions.

    Scale: one shuffle by key; O(log² W) state per key; a million
    keys is a million independent bucket lists in the state store.
    """
    return keyed_state(
        df, key_col, _dgim_window_count_fold,
        added="seq long, last_ts long, est_count long, n_buckets long",
        state="seq long, last_ts long, buckets string",
        mode="update", key_col=key_col, ts_col=ts_col, window_s=window_s,
    )


def _sequence_pattern_fold(
    key, pdfs, state: GroupState, *, key_col: str, ts_col: str, step_col: str,
    max_len: int, max_events: int
):
    """Per-key fold of :func:`sequence_pattern_stream`."""
    if state.exists:
        n_seen, contained_s = state.get
    else:
        n_seen, contained_s = 0, ""
    contained = set(contained_s.split("|")) if contained_s else set()
    fresh_all: list[str] = []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        for s in pdf[step_col].astype(str).values:
            if n_seen >= max_events:
                break
            n_seen += 1
            fresh = set()
            if s not in contained:
                fresh.add(s)
            for p in contained:
                if p.count(">") + 1 < max_len:
                    q = p + ">" + s
                    if q not in contained:
                        fresh.add(q)
            contained |= fresh
            fresh_all.extend(sorted(fresh))
    state.update((int(n_seen), "|".join(sorted(contained))))
    if fresh_all:
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(fresh_all),
                "pattern": fresh_all,
                "length": [q.count(">") + 1 for q in fresh_all],
            }
        )


def sequence_pattern_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    max_len: int = 3,
    max_events: int = 20,
) -> DataFrame:
    """Streaming sequence-pattern miner — the incremental twin of the
    batch PrefixSpan census (queries/behavior.prefixspan_projected_
    census): per key, fold events in time order and emit each
    subsequence pattern of length <= ``max_len`` the FIRST time the
    key's sequence contains it. Downstream, a running
    ``groupBy(pattern).count()`` is exactly per-pattern support
    (users containing the pattern), because each (key, pattern) is
    emitted at most once — the stream never retracts, matching
    support's monotonicity under append-only sequences.

    The per-event update is the subsequence-containment automaton:
    after appending step e, the newly contained patterns are exactly
    ``{p + '>' + e : p in contained_before, len(p) < max_len} ∪ {e}``
    minus those already contained (a pattern becomes contained only
    when its last step arrives, with its prefix contained before).
    Only the first ``max_events`` steps per key fold in (the batch
    census's first-20-events contract).

    State is (n_seen, contained-set) where the set is a '|'-joined
    string of '>'-joined patterns — bounded by the pattern universe
    sum_k(alphabet^k), k <= max_len, NOT by stream length; step labels
    must not contain '|' or '>'. Scale: one shuffle on key; per-event
    work is O(|contained|) set probes; emission is the sparse delta
    (new patterns only), so output volume decays as keys saturate.
    """
    return keyed_state(
        df, key_col, _sequence_pattern_fold,
        added="pattern string, length long", state="n_seen long, contained string",
        key_col=key_col, ts_col=ts_col, step_col=step_col,
        max_len=max_len, max_events=max_events,
    )


def _bloom_bits(sid: str, m_bits: int, n_hashes: int):
    for hi in range(n_hashes):
        h = int(
            hashlib.md5(f"bf{hi}|{sid}".encode()).hexdigest()[:8], 16
        ) % m_bits
        yield h // 62, 1 << (h % 62)


def _bloom_dedup_fold(
    key, pdfs, state: GroupState, *, id_col: str, ts_col: str, m_bits: int,
    n_hashes: int
):
    """Per-shard fold of :func:`bloom_dedup_stream`."""
    W = (m_bits + 61) // 62
    if state.exists:
        words, n_ins = state.get
        words = list(words)
    else:
        words, n_ins = [0] * W, 0
    out_ids, out_ts = [], []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        for sid, ts in zip(pdf[id_col].astype(str), pdf[ts_col]):
            pos = list(_bloom_bits(sid, m_bits, n_hashes))
            if all(words[w] & m for w, m in pos):
                continue  # possibly-seen: drop (dup, or rare fp)
            for w, m in pos:
                words[w] |= m
            n_ins += 1
            out_ids.append(sid)
            out_ts.append(ts)
    state.update((words, int(n_ins)))
    if out_ids:
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(out_ids),
                id_col: out_ids,
                ts_col: out_ts,
            }
        )


def bloom_dedup_stream(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    shards: int = 8,
    m_bits: int = 8192,
    n_hashes: int = 5,
) -> DataFrame:
    """Streaming dedup with BOUNDED state via a sharded Bloom filter —
    the production answer when exact streaming dedup
    (streaming/dedup.py: dropDuplicates + watermark, state = one entry
    PER KEY EVER SEEN) outgrows the state store on an unbounded id
    space. Each id hashes to one of ``shards`` GroupState shards whose
    state is a fixed ``m_bits`` bitmap (62-bit words in array<long> —
    the signed-shift-safe width) plus an insert counter: a row whose
    k bits are all set is DROPPED as a duplicate; otherwise it is
    emitted and its bits are set.

    Contract (the Bloom asymmetry): a true duplicate is ALWAYS
    dropped — no id is ever emitted twice — while a unique id may be
    wrongly dropped with probability ~(1 - e^(-kn/m))^k (monitor
    n_inserted against m/10 and rotate/resize the filter). Hashing is
    md5-deterministic, so replays reproduce bit-for-bit.

    Scale: state per shard is m_bits/62 longs FOREVER, independent of
    stream length; shards spread both the hash work and the state
    store write amplification. The exact twin stays the right choice
    while key cardinality x entry size fits the store — this is the
    graceful-degradation path beyond it.
    """
    shard = (
        F.expr(
            f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 1, 8),"
            f" 16, 10) AS BIGINT) % {shards}"
        )
    ).alias("shard")
    return keyed_state(
        df.select(shard, F.col(id_col).cast("string").alias(id_col), ts_col),
        "shard", _bloom_dedup_fold, keep="input", added="",
        state="words array<long>, n_inserted long",
        id_col=id_col, ts_col=ts_col, m_bits=m_bits, n_hashes=n_hashes,
    )


def _timeout_sessions(key_col, key, sessions):
    return pd.DataFrame(
        {
            key_col: [key[0]] * len(sessions),
            "session_start": pd.to_datetime([s[0] for s in sessions]),
            "session_end": pd.to_datetime([s[1] for s in sessions]),
            "n_events": [s[2] for s in sessions],
        }
    )


def _session_timeout_fold(
    key, pdfs, state: GroupState, *, key_col: str, ts_col: str, gap_ns: int,
    gap_seconds: int
):
    """Per-key fold of :func:`session_timeout_stream`."""
    if state.hasTimedOut:
        start_ns, last_ns, n = state.get
        state.remove()
        yield _timeout_sessions(key_col, key, [(start_ns, last_ns, n)])
        return
    if state.exists:
        start_ns, last_ns, n = state.get
    else:
        start_ns, last_ns, n = (-1, -1, 0)
    closed = []
    for pdf in pdfs:
        pdf = _fold_sort(pdf, ts_col)
        ts_ns = pdf[ts_col].values.astype("datetime64[ns]").astype("int64")
        for t in ts_ns:
            if start_ns < 0:
                start_ns, last_ns, n = (int(t), int(t), 1)
            elif t - last_ns > gap_ns:
                closed.append((start_ns, last_ns, n))
                start_ns, last_ns, n = (int(t), int(t), 1)
            else:
                last_ns, n = int(t), n + 1
    state.update((start_ns, last_ns, n))
    # close the open session when the watermark passes last + gap
    state.setTimeoutTimestamp(last_ns // 1_000_000 + gap_seconds * 1000)
    if closed:
        yield _timeout_sessions(key_col, key, closed)


def session_timeout_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap sessionization that ALSO closes the trailing session via
    EVENT-TIME TIMEOUT — the missing half of session_path_stream's
    append contract (which keeps each key's final session open in
    state forever): when the watermark passes last_event + gap, the
    group times out, the open session is emitted, and state is
    removed. With a terminal watermark-advancing event (or in a live
    stream, simply the passage of event time), stream output equals
    the FULL batch sessionization, final sessions included.

    Requires ``df`` to carry ``withWatermark(ts_col, ...)`` — the
    timeout clock IS the watermark. This is the one GroupState
    surface (hasTimedOut / setTimeoutTimestamp / remove) the other
    stateful ops don't exercise; state is 3 scalars per OPEN session
    only, removed at close — the TTL pattern that keeps unbounded key
    spaces from accreting state forever.
    """
    return keyed_state(
        df, key_col, _session_timeout_fold,
        added="session_start timestamp, session_end timestamp, n_events long",
        state="start_ns long, last_ns long, n long",
        timeout=GroupStateTimeout.EventTimeTimeout,
        key_col=key_col, ts_col=ts_col,
        gap_ns=int(gap_seconds) * 1_000_000_000, gap_seconds=gap_seconds,
    )


def _psi_drift_fold(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    *,
    key_col: str,
    value_col: str,
    ts_col: str,
    cutoff: pd.Timestamp,
    n_buckets: int,
    width: float,
    threshold: float,
) -> Iterator[pd.DataFrame]:
    """Per-key histogram fold of :func:`psi_drift_stream`."""
    if state.exists:
        seq, ref_j, cur_j = state.get
        ref = json.loads(ref_j)
        cur = json.loads(cur_j)
    else:
        seq = 0
        ref = [0] * n_buckets
        cur = [0] * n_buckets
    for pdf in pdfs:
        is_ref = (pdf[ts_col] < cutoff).to_numpy()
        vals = pdf[value_col].to_numpy(dtype="float64")
        for v, r in zip(vals, is_ref):
            if math.isnan(v):
                continue
            b = min(n_buckets - 1, max(0, int(v // width)))
            if r:
                ref[b] += 1
            else:
                cur[b] += 1
    seq += 1
    state.update((seq, json.dumps(ref), json.dumps(cur)))
    n_ref, n_cur = sum(ref), sum(cur)
    half = 0.5 * n_buckets
    psi = 0.0
    for b in range(n_buckets):
        p = (ref[b] + 0.5) / (n_ref + half)
        q = (cur[b] + 0.5) / (n_cur + half)
        psi += (p - q) * math.log(p / q)
    yield pd.DataFrame(
        {
            key_col: [key[0]],
            "seq": [seq],
            "n_ref": [n_ref],
            "n_cur": [n_cur],
            "psi": [psi],
            "drift_flag": [psi > threshold],
        }
    )


def psi_drift_stream(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    ref_cutoff: str = "2024-01-20",
    n_buckets: int = 10,
    width: float = 50.0,
    threshold: float = 0.1,
) -> DataFrame:
    """Streaming PSI drift monitor — the GroupState twin of the batch
    `psi_distribution_drift` gate (queries/warehouse_extra.py): per
    key the state carries two integer bucket histograms (reference =
    rows with event time before ``ref_cutoff``, current = the rest;
    same fixed-width bins, clamped to [0, n_buckets)); every
    micro-batch folds its rows into the histograms and emits the
    running PSI with the +0.5 Laplace smoothing the batch query uses
    (an empty bin contributes a finite penalty, never ln(0)).

    Determinism: PSI is a PURE FUNCTION of the two integer count
    vectors, and integer counts are batching-invariant — so unlike
    the sketch monitors (KLL/t-digest), the stream is EXACTLY equal
    to the batch gate after any replay, under any chunking, and
    state (two json count vectors) round-trips exactly through
    checkpoint restarts.

    Scale: one shuffle by key; state is 2·n_buckets longs per key —
    constant, never grows with stream length. A reference window
    that should itself slide (vs the frozen-cutoff form here) swaps
    the ref histogram for a DGIM-style decaying one; the emit logic
    is unchanged.
    """
    return keyed_state(
        df, key_col, _psi_drift_fold,
        added="seq long, n_ref long, n_cur long, psi double, drift_flag boolean",
        state="seq long, ref string, cur string", mode="update",
        key_col=key_col, value_col=value_col, ts_col=ts_col,
        cutoff=pd.Timestamp(ref_cutoff), n_buckets=n_buckets, width=width, threshold=threshold,
    )


def _pair_rules_fold(key, pdfs, state: GroupState, *, basket_col: str, item_col: str):
    """Per-basket emit-once fold of :func:`pair_rules_stream`."""
    items_s = state.get[0] if state.exists else ""
    items = set(items_s.split("|")) if items_s else set()
    rows: list[tuple[str, str, str]] = []
    for pdf in pdfs:
        for s in pdf[item_col].astype(str).values:
            if "|" in s:
                # the delimiter invariant is load-bearing: a '|'
                # inside an item would silently split into phantom
                # items on the next batch's state decode, breaking
                # emit-once with no error — fail loud instead.
                raise ValueError(
                    "pair_rules_stream: item %r contains the state "
                    "delimiter '|'" % s
                )
            if s in items:
                continue
            rows.append(("item", s, ""))
            rows.extend(
                ("pair", min(s, t), max(s, t)) for t in items
            )
            items.add(s)
    state.update(("|".join(sorted(items)),))
    if rows:
        yield pd.DataFrame(
            {
                basket_col: [key[0]] * len(rows),
                "kind": [r[0] for r in rows],
                "a": [r[1] for r in rows],
                "b": [r[2] for r in rows],
            }
        )


def pair_rules_stream(
    df: DataFrame,
    basket_col: str,
    item_col: str,
) -> DataFrame:
    """Streaming association-rule monitor, the incremental twin of the
    batch ``association_rules_confidence_lift`` restricted to its
    single-item-antecedent (pair) rules: per basket, GroupState holds
    the item set seen so far, and each arriving item emits the new
    SINGLETON row ('item', x, '') and the new unordered PAIR rows
    ('pair', min(x,t), max(x,t)) exactly once per (basket, itemset) —
    so a downstream ``groupBy`` over the emitted rows IS the running
    support census (supp(x) = item-row count, supp({x,y}) = pair-row
    count, N = distinct baskets), and the per-batch confidence/lift
    snapshot (:func:`pair_rules_snapshot`) is a PURE FUNCTION of those
    counts — batch-exact under ANY chunking, restart-safe for free
    (the psi_drift_stream property), because emit-once makes the sink
    multiset independent of how basket rows split across micro-batches
    (duplicate item arrivals re-emit nothing).

    State is the '|'-joined item set — bounded by the item alphabet
    (the brand dimension), never by stream length; items must not
    contain '|' (asserted per arrival — a delimiter inside an item
    raises instead of silently corrupting the decoded set on the next
    batch). Scale: one shuffle on basket key; per-arrival work is
    O(|basket|) set probes; emission volume is Sum |basket|^2 / 2
    spread over arrivals and decaying as baskets saturate.
    """
    return keyed_state(
        df, basket_col, _pair_rules_fold, added="kind string, a string, b string",
        state="items string", basket_col=basket_col, item_col=item_col,
    )


def pair_rules_snapshot(emitted: DataFrame, basket_col: str) -> DataFrame:
    """Confidence/lift snapshot over :func:`pair_rules_stream` output:
    the batch rule algebra (antecedent -> consequent, confidence =
    supp(pair)/supp(antecedent), lift = confidence/(supp(consequent)/N))
    applied to the emit-once census, with the SAME adaptive minsup the
    batch miner uses (greatest(2, floor(N/1000)), applied to the pair —
    downward closure makes both singletons automatically frequent).
    Emits both orientations of every kept pair, aliased identically to
    the batch query so goldens compare row-for-row."""
    items = emitted.filter(F.col("kind") == "item")
    pairs = emitted.filter(F.col("kind") == "pair")
    n_total = items.agg(
        F.count_distinct(basket_col).cast("long").alias("n")
    )
    supp_i = items.groupBy(F.col("a").alias("x")).agg(
        F.count(F.lit(1)).cast("long").alias("n_x")
    )
    supp_p = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_rule")
    )
    both = supp_p.select("a", "b", "n_rule").unionByName(
        supp_p.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "n_rule"
        )
    )
    conf = F.col("n_rule") / F.col("n_antecedent")
    return (
        both.crossJoin(F.broadcast(n_total))
        .filter(
            F.col("n_rule")
            >= F.greatest(F.lit(2), F.floor(F.col("n") / 1000))
        )
        .join(
            F.broadcast(supp_i.select(
                F.col("x").alias("a"), F.col("n_x").alias("n_antecedent")
            )),
            "a",
        )
        .join(
            F.broadcast(supp_i.select(
                F.col("x").alias("b"), F.col("n_x").alias("n_consequent")
            )),
            "b",
        )
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "n_rule", "n_antecedent",
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf / (F.col("n_consequent") / F.col("n")), 6
            ).alias("lift"),
        )
    )


def _schema_drift_fold(key, pdfs, state: GroupState):
    """Per-shape fold of :func:`schema_drift_stream`: add the batch's
    rows to the shape's running count and emit one row."""
    prev = state.get[0] if state.exists else 0
    is_new = not state.exists
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    total = prev + n
    state.update((total,))
    yield pd.DataFrame(
        {
            "key_set": [key[0]],
            "batch_rows": [n],
            "total_rows": [total],
            "is_new": [is_new],
        }
    )


def schema_drift_stream(df: DataFrame, json_col: str) -> DataFrame:
    """Streaming SCHEMA-DRIFT monitor — the live GroupState twin of
    the batch ``json_schema_census`` tripwire (queries/extras.py):
    rows are keyed by their JSON payload's sorted key set (the SAME
    JVM expression as the batch census — ``json_object_keys`` →
    array_sort → join; NULL payload → '<null>', malformed →
    '<invalid>'), state per shape is its cumulative row count, and
    each micro-batch emits ONE row per shape it contains:
    (key_set, batch_rows, total_rows, is_new). ``is_new`` is true
    exactly once per shape — its first-ever batch — which IS the
    producer-drift alert a deployment gate subscribes to (a new/
    renamed/dropped field mints a new key_set, so the alert fires on
    the first event of the new shape, not at the next batch census).

    Determinism: integer counts are batching-invariant, so
    ``schema_drift_snapshot`` over the emitted rows reproduces the
    batch census EXACTLY under any chunking, and checkpoint recovery
    preserves both the totals and the emit-once ``is_new`` invariant
    (state survives; a shape seen before the restart is not "new"
    after it).

    Scale: one shuffle keyed by key_set — cardinality = number of
    DISTINCT SHAPES (bounded by producers' schema churn, not stream
    length); state is one long per shape; per-batch work is a
    len() per (shape, batch) group after a JVM-side key extraction.
    """
    key_set = (
        F.when(F.col(json_col).isNull(), F.lit("<null>"))
        .otherwise(
            F.coalesce(
                F.array_join(
                    F.array_sort(F.json_object_keys(json_col)), ","
                ),
                F.lit("<invalid>"),
            )
        )
        .alias("key_set")
    )
    return keyed_state(
        df.select(key_set), "key_set", _schema_drift_fold,
        added="batch_rows long, total_rows long, is_new boolean", state="n long",
    )


def schema_drift_snapshot(emitted: DataFrame) -> DataFrame:
    """Census snapshot over :func:`schema_drift_stream` output — a
    PURE FUNCTION of the emitted rows: sum(batch_rows) per key_set,
    aliased and ordered exactly as the batch ``json_schema_census``
    so goldens compare row-for-row."""
    return (
        emitted.groupBy("key_set")
        .agg(F.sum("batch_rows").cast("long").alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "key_set")
    )
