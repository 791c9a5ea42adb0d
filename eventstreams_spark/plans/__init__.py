"""Plan inspection & assertion helpers (SURVEY §4, SCALE.md).

The scale contract of every operator is a *plan shape* — broadcast vs
shuffle join, pushed filters, pruned read schema, TakeOrderedAndProject
instead of a global sort. `plan_digest` counts those shapes for every
registry query (tests/plan_digest.json, regenerated with
`python tools/gen_plan_digest.py [query ...]`); the helpers below read
the formatted physical plan for the properties a count cannot hold
(pushed filters, read schemas). A regression that turns a broadcast
chain into a sort-merge cascade fails CI long before anyone runs it at
100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


# One executedPlan().toString() line: tree prefix, optional
# whole-stage-codegen marker "*(n) ", then the operator name.
_PLAN_LINE = re.compile(r"^[ :+-]*(?:\*\(\d+\) )?([A-Za-z]\w*)(.*)$")
_DIGEST_OPS = frozenset(
    {
        "Window",
        "WindowGroupLimit",
        "HashAggregate",
        "TakeOrderedAndProject",
        "Generate",
        "Expand",
        "InMemoryTableScan",
    }
)


def digest_plan_text(plan: str) -> dict[str, int]:
    """Column -> count for one ``executedPlan().toString()`` text.

    Columns (zero counts are omitted): ``scan.parquet`` (FileScan
    parquet leaves), ``scan.rdd`` (Scan ExistingRDD: checkpointed or
    createDataFrame frames), ``exchange.<kind>`` (hash, range, single,
    roundrobin, broadcast), ``join.<operator>``, ``python.<operator>``
    and ``op.<operator>`` for the operators in ``_DIGEST_OPS``.
    Exchanges whose origin is REPARTITION_BY_NUM are skipped: they are
    the ``spread_to_cores`` / ``repartition(n)`` adapters, whose kind
    flips between round-robin and SinglePartition with the core count.
    Cached frames are printed under every InMemoryRelation that reads
    them, so their operators count once per reader.
    """
    digest: dict[str, int] = {}
    for line in plan.splitlines():
        m = _PLAN_LINE.match(line)
        if not m:
            continue
        name, rest = m.groups()
        if name == "FileScan" and rest.startswith(" parquet"):
            col = "scan.parquet"
        elif name == "Scan" and rest.startswith(" ExistingRDD"):
            col = "scan.rdd"
        elif name == "BroadcastExchange":
            col = "exchange.broadcast"
        elif name == "Exchange":
            if re.search(r", REPARTITION_BY_NUM(?:,|$)", rest):
                continue
            # hashpartitioning -> hash, SinglePartition -> single, ...
            kind = re.match(r" ([A-Za-z]+?)(?:partitioning|partition)\b", rest, re.I)
            col = "exchange." + (kind.group(1).lower() if kind else "other")
        elif name.endswith("Join") or name == "CartesianProduct":
            col = "join." + name
        elif re.search(r"Python|Pandas|InArrow", name):
            col = "python." + name
        elif name in _DIGEST_OPS:
            col = "op." + name
        else:
            continue
        digest[col] = digest.get(col, 0) + 1
    return dict(sorted(digest.items()))


def plan_digest(df: DataFrame) -> dict[str, int]:
    """The plan digest of ``df``'s executed physical plan (see
    `digest_plan_text`)."""
    return digest_plan_text(df._jdf.queryExecution().executedPlan().toString())


DIGEST_GENERATOR = "python tools/gen_plan_digest.py"
# Digest columns no registry query may plan, with no allowlist.
DIGEST_INVARIANTS = {
    "join.CartesianProduct": "a cartesian product",
    "exchange.range": "a range-partitioning exchange (global sort)",
}


def digest_mismatches(name: str, got: dict, digest: dict, parallelism: int) -> list[str]:
    """One message per differing column of query ``name``'s digest
    ``got`` against the loaded tests/plan_digest.json ``digest``; each
    names the query and the column. ``parallelism`` is the session's
    defaultParallelism: a "parallelism_dependent" query built at
    another one is compared on its ``scan.`` columns and the
    invariants only."""
    recorded = digest["queries"].get(name)
    if recorded is None:
        return [f"{name}: no digest entry; record one with `{DIGEST_GENERATOR} {name}` and read it"]
    problems = [
        f"{name}: {col} = {got[col]}: {what} is not allowed in any registry query"
        for col, what in DIGEST_INVARIANTS.items()
        if got.get(col)
    ]
    cols = sorted(set(recorded) | set(got))
    if name in digest["parallelism_dependent"] and parallelism != digest["parallelism"]:
        cols = [c for c in cols if c.startswith("scan.")]
    problems += [
        f"{name}: {col} planned {got.get(col, 0)}, recorded {recorded.get(col, 0)}"
        f" (intended? `{DIGEST_GENERATOR} {name}`)"
        for col in cols
        if got.get(col, 0) != recorded.get(col, 0)
    ]
    return problems


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text, returned instead of printed."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def operator_counts(df: DataFrame) -> dict[str, int]:
    """Physical operator name → occurrence count (tree section only)."""
    tree = formatted_plan(df).split("\n\n")[0]
    counts: dict[str, int] = {}
    # "* " is the whole-stage-codegen marker: plans without an AQE
    # wrapper (no exchange anywhere) print it in the tree section,
    # e.g. "+- * Scan ExistingRDD (1)" — count those too
    for m in re.finditer(r"[+:]- (?:\* )?(\w[\w ]*?) [(\[]", tree + "\n"):
        name = m.group(1).strip()
        counts[name] = counts.get(name, 0) + 1
    # root operator (no +- prefix)
    first = re.search(r"^(?:\* )?(\w[\w]*)", tree.splitlines()[1] if len(tree.splitlines()) > 1 else "")
    if first:
        counts[first.group(1)] = counts.get(first.group(1), 0) + 1
    return counts


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ReadSchema struct string (column-pruning evidence)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def assert_no_operator(df: DataFrame, *names: str) -> None:
    plan = formatted_plan(df)
    for name in names:
        assert name not in plan, f"forbidden operator {name!r} in plan:\n{plan[:2000]}"


def assert_has_operator(df: DataFrame, *names: str) -> None:
    plan = formatted_plan(df)
    for name in names:
        assert name in plan, f"expected operator {name!r} missing from plan:\n{plan[:2000]}"


def assert_all_joins_broadcast(df: DataFrame) -> None:
    """Every join in the plan is a broadcast hash join (dim-enrichment
    contract: the fact side is never shuffled)."""
    assert_no_operator(df, "SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")


def assert_read_schema_at_most(df: DataFrame, table_marker: str, allowed: set[str]) -> None:
    """The scan whose ReadSchema mentions ``table_marker`` reads no
    column outside ``allowed`` (column pruning reached the scan)."""
    for schema in read_schemas(df):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        if table_marker in cols:
            extra = cols - allowed
            assert not extra, f"scan reads unpruned columns: {sorted(extra)}"
            return
    raise AssertionError(f"no scan with column {table_marker!r} found")
