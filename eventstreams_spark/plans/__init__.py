"""The plan digest and plan-text readers (SURVEY §4, SCALE.md).

The scale contract of every operator is a *plan shape*: broadcast vs
shuffle join, two-phase aggregation, TakeOrderedAndProject instead of
a global sort, one scan where a naive plan reads twice. `plan_digest`
counts those shapes, and equality with each registry query's line in
tests/plan_digest.json (regenerated with
`python tools/gen_plan_digest.py [query ...]`) is the one check on
those counts. `pinned_digest_confs` is what a digest run pins, so the
same line holds at any core count. The readers below return the
formatted physical plan's text for what the digest cannot hold:
pushed filters and read schemas. A regression that turns a broadcast
chain into a sort-merge cascade fails CI long before anyone runs it at
100 TB.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


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


# What a digest run pins, each to the digest's recorded parallelism:
# the shuffle width, and the leaf parallelism that stands in for the
# core count in every builder (operators/spread.py::leaf_parallelism)
# and in Spark's own leaf scans.
DIGEST_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.leafNodeDefaultParallelism")


@contextmanager
def pinned_digest_confs(spark: SparkSession, parallelism: int) -> Iterator[None]:
    """Set every `DIGEST_CONFS` key to ``parallelism`` and restore the
    session's values afterwards (unsetting a key that was unset), then
    clear the cache."""
    before = {key: spark.conf.get(key, None) for key in DIGEST_CONFS}
    for key in DIGEST_CONFS:
        spark.conf.set(key, str(parallelism))
    try:
        yield
    finally:
        for key, value in before.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        spark.catalog.clearCache()


def digest_mismatches(name: str, got: dict, digest: dict) -> list[str]:
    """One message per differing column of query ``name``'s digest
    ``got`` against the loaded tests/plan_digest.json ``digest``; each
    names the query and the column."""
    recorded = digest["queries"].get(name)
    if recorded is None:
        return [f"{name}: no digest entry; record one with `{DIGEST_GENERATOR} {name}` and read it"]
    problems = [
        f"{name}: {col} = {got[col]}: {what} is not allowed in any registry query"
        for col, what in DIGEST_INVARIANTS.items()
        if got.get(col)
    ]
    problems += [
        f"{name}: {col} planned {got.get(col, 0)}, recorded {recorded.get(col, 0)}"
        f" (intended? `{DIGEST_GENERATOR} {name}`)"
        for col in sorted(set(recorded) | set(got))
        if got.get(col, 0) != recorded.get(col, 0)
    ]
    return problems


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text, returned instead of printed."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ReadSchema struct string (column-pruning evidence)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


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
