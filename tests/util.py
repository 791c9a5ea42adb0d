"""Shared test helpers: a deterministic two-way split of a frame, and
bounds on recorded plan digest lines.

The oracle-parity check is not here: tests/test_parity.py runs the
one oracle check, ``tools/driver_sim.py::check_query``.
"""

from __future__ import annotations

import json
import os
import re


def split_half(df, n: int, order_cols=None):
    """Deterministically split `df` into (first n//2 rows, rest) by a
    row_number over a total order on ALL columns — unlike the old
    `limit(n//2)` + `subtract(...)` pattern, the two halves are
    computed from ONE ranked plan, so (a) two separate `limit`
    evaluations can't pick different rows at a tie boundary, and
    (b) fully-duplicate rows are kept (EXCEPT DISTINCT silently
    dropped them).  Ties among fully-identical rows are
    interchangeable, so the split is deterministic as a multiset.

    NOTE the default order is ALL COLUMNS, not event time: for a
    frame like (k, day, x) the boundary is a per-key interleaved
    split, NOT a chronological prefix. Fine for order-insensitive
    restart assertions; a watermark/event-time recovery scenario that
    needs a time-ordered split must pass `order_cols` explicitly
    (e.g. `order_cols=["day", "k", "x"]`) — ADVICE r8."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ranked = df.withColumn(
        "_rn", F.row_number().over(Window.orderBy(*(order_cols or df.columns)))
    )
    first = ranked.filter(F.col("_rn") <= n // 2).drop("_rn")
    rest = ranked.filter(F.col("_rn") > n // 2).drop("_rn")
    return first, rest


# -- bounds on recorded plan digest lines (tests/plan_digest.json) -------

with open(os.path.join(os.path.dirname(__file__), "plan_digest.json")) as _f:
    RECORDED_DIGEST = json.load(_f)["queries"]

_DIGEST_GROUPS = {
    "join": lambda col: col.startswith("join."),
    "python": lambda col: col.startswith("python."),
    "window": lambda col: col in ("op.Window", "op.WindowGroupLimit"),
}


def assert_recorded(query: str, bounds: dict[str, int | str]) -> None:
    """Fail with one message per bound that ``query``'s recorded digest
    line breaks.

    A bound maps a digest column, or a group (``join``: every join,
    ``python``: every Python eval node, ``window``: Window and
    WindowGroupLimit), to a count: ``0`` is absence, ``">=n"`` and
    ``"<=n"`` are one-sided. The digest test holds each query's plan to
    its exact recorded line; a bound holds the line to the reason a test
    was written for, so a regenerated line that crosses it fails by
    name. Exchange counts are not bounded here: the digest leaves out
    REPARTITION_BY_NUM exchanges (see `shuffle_exchanges`)."""
    line = RECORDED_DIGEST[query]
    problems = []
    for key, bound in bounds.items():
        match = _DIGEST_GROUPS.get(key, lambda col, key=key: col == key)
        got = sum(n for col, n in line.items() if match(col))
        if bound == 0:
            ok = got == 0
        else:
            ok = got >= int(bound[2:]) if bound.startswith(">=") else got <= int(bound[2:])
        if not ok:
            problems.append(f"{query}: {key} recorded {got}, bound {bound}")
    assert not problems, "\n".join(problems)


_EXCHANGE_NODE = re.compile(r"^[ :+-]*(?:\*\(\d+\) )?Exchange ", re.M)


def shuffle_exchanges(df) -> int:
    """Every shuffle Exchange node of ``df``'s executed plan (broadcast
    and reused exchanges aside), the REPARTITION_BY_NUM ones of
    ``spread_to_cores`` and ``repartition(n)`` included. The digest
    leaves those out because their kind follows the core count, so a
    test on the number of shuffles reads the plan."""
    return len(_EXCHANGE_NODE.findall(df._jdf.queryExecution().executedPlan().toString()))
