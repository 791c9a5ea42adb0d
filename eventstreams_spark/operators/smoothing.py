"""Holt double-exponential smoothing (level + trend), Holt-Winters,
the 1-D Kalman level filter and the 2-state HMM burst filter — batch
forms.

Like CUSUM (changepoint.py), each is a per-key SEQUENTIAL fold — Holt's
level and trend are COUPLED recurrences (each step needs both previous
states), so no window function expresses it. Holt linear, Kalman and
the HMM filter have one loop each, the GroupState folds in
``streaming/stateful.py``: the batch forms here run those folds once per
key over the key's (ts, event_id)-sorted rows through ``grouped_fold``,
and ``tests/test_streaming.py`` pins each batch form equal to its
stream. Holt-Winters has no stream twin; its fold lives here.

The one-step forecast error sum (SSE) accumulates INSIDE the fold:
a post-hoc float SUM over shuffled rows would be order-dependent
across engines, the sequential running sum is bit-exact vs the
recursive-CTE oracle replay (functions/exact.py rationale, applied to
an inherently sequential statistic).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def holt_linear_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt's linear method per key: l_t = αx + (1−α)(l+b),
    b_t = β(l_t − l_prev) + (1−β)b; initialized l₁ = x₁, b₁ = 0.
    Output = input + (rn, level, trend, forecast, sse_running) where
    forecast is the PRE-update one-step-ahead prediction (null for
    the first row) and sse_running the sequential Σ(x−forecast)².
    The fold is ``stateful.py::_holt_linear_fold``, shared with
    ``holt_linear_stream``."""
    from ..streaming.stateful import _holt_linear_fold, grouped_fold

    return grouped_fold(
        df, key_col, _holt_linear_fold,
        added="rn long, level double, trend double, forecast double, sse_running double",
        ts_col=ts_col, value_col=value_col, alpha=alpha, beta=beta,
    )


def _holt_winters_fold(
    key, pdfs, state, *, order_col: str, value_col: str, m: int, alpha: float,
    beta: float, gamma: float
):
    """Per-key fold of :func:`holt_winters_batch`."""
    (pdf,) = pdfs
    pdf = pdf.sort_values(order_col, kind="mergesort").copy()
    ys = list(pdf[value_col])
    n = len(ys)
    rns = list(range(1, n + 1))
    lvls, trends, seas, fcs, sses = [], [], [], [], []
    if n < m:
        pdf["rn"] = rns
        for c in ("level", "trend", "season", "forecast", "sse_running"):
            pdf[c] = pd.array([None] * n, dtype="float64")
        yield pdf
        return
    lvl = sum(ys[:m]) / float(m)
    trend, sse = 0.0, 0.0
    seed = [y - lvl for y in ys[:m]]
    sarr = list(seed)
    for i in range(n):
        if i < m - 1:
            lvls.append(None); trends.append(None)
            seas.append(seed[i]); fcs.append(None); sses.append(None)
        elif i == m - 1:
            lvls.append(lvl); trends.append(0.0)
            seas.append(seed[i]); fcs.append(None); sses.append(0.0)
        else:
            y = ys[i]
            s_old = sarr[0]
            fc = lvl + trend + s_old
            sse = sse + (y - fc) * (y - fc)
            new_lvl = alpha * (y - s_old) + (1.0 - alpha) * (lvl + trend)
            trend = beta * (new_lvl - lvl) + (1.0 - beta) * trend
            s_new = gamma * (y - new_lvl) + (1.0 - gamma) * s_old
            sarr = sarr[1:] + [s_new]
            lvl = new_lvl
            lvls.append(lvl); trends.append(trend)
            seas.append(s_new); fcs.append(fc); sses.append(sse)
    pdf["rn"] = rns
    pdf["level"] = pd.array(lvls, dtype="float64")
    pdf["trend"] = pd.array(trends, dtype="float64")
    pdf["season"] = pd.array(seas, dtype="float64")
    pdf["forecast"] = pd.array(fcs, dtype="float64")
    pdf["sse_running"] = pd.array(sses, dtype="float64")
    yield pdf


def holt_winters_batch(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.4,
    beta: float = 0.2,
    gamma: float = 0.3,
) -> DataFrame:
    """Additive Holt-Winters (level + trend + seasonal) per key — the
    seasonal extension of holt_linear_batch, same sequential-fold
    contract. Initialization: the first ``period`` rows seed
    l = mean(first period), b = 0, s_i = y_i − l; the recurrence runs
    from row period+1 with the one-step forecast l + b + s_{t−m}
    and the SSE accumulating inside the fold (bit-exact vs a
    recursive-CTE replay, like Holt linear).

    Rows before the seed window complete are emitted with NULL
    level/trend/forecast (their ``season`` carries the seed
    s_i = y_i − l₀, so a reader can reconstruct the full state). State per key is period + 2 floats — the
    production shape for per-series seasonal forecasting at millions
    of keys.
    """
    from ..streaming.stateful import grouped_fold

    return grouped_fold(
        df, key_col, _holt_winters_fold,
        added=(
            "rn long, level double, trend double, season double, forecast double,"
            " sse_running double"
        ),
        order_col=order_col, value_col=value_col, m=int(period), alpha=alpha, beta=beta,
        gamma=gamma,
    )


def kalman_level_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    q_var: float = 100000.0,
    r_var: float = 1000000.0,
) -> DataFrame:
    """1-D Kalman filter (random-walk level + observation noise) per
    key — the data-adaptive cousin of holt_linear_batch: predict
    P' = P + Q, gain K = P'/(P'+R), update x += K(z−x), P = (1−K)P'.
    Initialized x₁ = z₁ with diffuse P₁ = R (gain null on row 1).
    Output = input + (rn, level, variance, gain). The fold is
    ``stateful.py::_kalman_level_fold``, shared with
    ``kalman_level_stream``; the registered batch query
    kalman_level_filter_check certifies the identical recurrence as a
    JVM ``aggregate()`` fold against a recursive-CTE oracle, and
    test_kalman_batch_equals_stream pins this form to that fold."""
    from ..streaming.stateful import _kalman_level_fold, grouped_fold

    return grouped_fold(
        df, key_col, _kalman_level_fold,
        added="rn long, level double, variance double, gain double",
        ts_col=ts_col, value_col=value_col, q_var=q_var, r_var=r_var,
    )


# --- 2-state HMM burst filter (forward log-odds) ---------------------------

# Constants mirror queries/opsstat_extra.py (the JVM aggregate() fold
# certified against the recursive-CTE oracle); keep in sync.
_HMM_P01, _HMM_P11, _HMM_P00, _HMM_P10 = 0.1, 0.8, 0.9, 0.2
_HMM_MULT = 3.0
_HMM_CLAMP = 30.0


def _round_half_away(x: float, nd: int = 6) -> float:
    """round() half-away-from-zero — SQL round semantics, not Python's
    banker's rounding. Inputs here are transcendental-function outputs,
    never exactly at a half boundary, so the float-scaling error of the
    floor trick cannot flip a decision in practice."""
    import math

    s = 10.0 ** nd
    if x >= 0:
        return math.floor(x * s + 0.5) / s
    return -math.floor(-x * s + 0.5) / s


def hmm_step_py(L: float, k: int, lam0: float) -> float:
    """One HMM forward step in log-odds space, Python twin of the
    engine-shared SQL text in queries/opsstat_extra.py::_hmm_step:
    L' = round6( ln((p01 + p11·e^L)/(p00 + p10·e^L))
                 + k·ln(mult) − (mult−1)·λ0 ), e^L clamped at ±30.
    The per-step 6-decimal requantization is what keeps the Python,
    JVM, and DuckDB folds bit-identical — ln/exp ulp drift cannot
    compound across steps."""
    import math

    eL = math.exp(max(min(L, _HMM_CLAMP), -_HMM_CLAMP))
    x = (
        math.log((_HMM_P01 + _HMM_P11 * eL) / (_HMM_P00 + _HMM_P10 * eL))
        + float(k) * math.log(_HMM_MULT)
        - (_HMM_MULT - 1.0) * lam0
    )
    return _round_half_away(x, 6)


def _hmm_init() -> float:
    """Prior log-odds entering the first transition: ln(p01/p00) in
    double — matches the CAST-to-DOUBLE division the SQL init uses."""
    import math

    return math.log(_HMM_P01 / _HMM_P00)


def hmm_forward_batch(
    df: DataFrame,
    key_col: str,
    order_col: str,
    k_col: str,
    lam0_col: str,
) -> DataFrame:
    """Batch 2-state HMM burst filter over a pre-aggregated count
    frame (key, order, k, lam0): per key, fold the forward log-odds
    recursion in order and emit (rn, log_odds, p_burst) per row —
    log_odds clamped at ±30, p_burst = sigmoid. The fold is
    ``stateful.py::_hmm_burst_fold``, shared with ``hmm_burst_stream``;
    the registered JVM-fold query hmm_burst_forward_filter is the
    independent twin, and test_hmm_batch_equals_stream pins all three
    equal."""
    from ..streaming.stateful import _hmm_burst_fold, grouped_fold

    return grouped_fold(
        df, key_col, _hmm_burst_fold,
        added="rn long, log_odds double, p_burst double",
        ts_col=order_col, k_col=k_col, lam0_col=lam0_col,
    )
