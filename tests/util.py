"""Shared test helpers: the oracle-parity comparison harness, and bounds
on recorded plan digest lines.

Oracle parity mirrors the driver's t2 check. The driver compares
row-count + schema (column names) + order-insensitive value hash.
Locally we compare sorted rows exactly, with a float tolerance
fallback so we can distinguish "wrong logic" from "last-ulp float
accumulation drift" — the former must be fixed, the latter surfaced
as a warning (tighten the query if it appears).
"""

from __future__ import annotations

import json
import math
import os
import re
from typing import Any

import duckdb

from eventstreams_spark.catalog import TABLES


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.sql(sql)
    return cur.columns, cur.fetchall()


def _canon(v: Any) -> Any:
    """Canonicalize a cell for cross-engine comparison."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple((x is None, str(x)) for x in row)


def compare_results(
    spark_cols: list[str],
    spark_rows: list[tuple],
    oracle_cols: list[str],
    oracle_rows: list[tuple],
    float_rtol: float = 1e-9,
) -> tuple[list[str], list[str]]:
    """Return (errors, warnings); ([], *) == parity. Column-order agnostic."""
    errors: list[str] = []
    warnings: list[str] = []
    if sorted(spark_cols) != sorted(oracle_cols):
        errors.append(f"schema mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
        return errors, warnings
    if len(spark_rows) != len(oracle_rows):
        errors.append(f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}")
        return errors, warnings

    cols = sorted(spark_cols)
    s_idx = [spark_cols.index(c) for c in cols]
    o_idx = [oracle_cols.index(c) for c in cols]
    s_rows = sorted((tuple(_canon(r[i]) for i in s_idx) for r in spark_rows), key=_sort_key)
    o_rows = sorted((tuple(_canon(r[i]) for i in o_idx) for r in oracle_rows), key=_sort_key)
    n_ulp = 0
    for ri, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        for ci, (sv, ov) in enumerate(zip(sr, orow)):
            if sv == ov:
                continue
            if (
                isinstance(sv, float)
                and isinstance(ov, float)
                and math.isclose(sv, ov, rel_tol=float_rtol, abs_tol=1e-12)
            ):
                n_ulp += 1
                continue
            errors.append(f"value mismatch row~{ri} col={cols[ci]}: spark={sv!r} oracle={ov!r}")
            if len(errors) >= 10:
                return errors, warnings
    if n_ulp:
        warnings.append(f"{n_ulp} float cells match only within rtol={float_rtol} (not bit-exact)")
    return errors, warnings


def assert_parity(spec, spark, sf_dir: str) -> list[str]:
    """Assert spark result matches oracle; returns warnings for reporting."""
    sdf = spec.builder(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    oracle_cols, oracle_rows = run_oracle(spec.oracle, sf_dir)
    errors, warnings = compare_results(spark_cols, spark_rows, oracle_cols, list(oracle_rows))
    assert not errors, f"{spec.name}: " + "; ".join(errors[:10])
    return warnings


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
