"""The plan digest's parser and comparison (eventstreams_spark/plans),
over literal plan strings and digest records, and two source guards:
the core count is read behind one helper, and no source names the
checkout's path. No Spark session.

tests/test_scan_budgets.py applies both to every registry query
against tests/plan_digest.json.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry
from eventstreams_spark.plans import DIGEST_GENERATOR as GENERATOR
from eventstreams_spark.plans import digest_mismatches, digest_plan_text

DIGEST_PATH = os.path.join(os.path.dirname(__file__), "plan_digest.json")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORE_COUNT_HELPER = os.path.join("eventstreams_spark", "operators", "spread.py")

with open(DIGEST_PATH) as _f:
    DIGEST = json.load(_f)

QUERIES = entry.queries()


def _sources(*tops: str) -> dict[str, str]:
    """The text of every .py file in ``tops`` (directories or files of
    the checkout), by path relative to the checkout."""
    paths = [os.path.join(REPO, top) for top in tops if top.endswith(".py")]
    for top in tops:
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    out = {}
    for path in paths:
        with open(path, encoding="utf-8") as src:
            out[os.path.relpath(path, REPO)] = src.read()
    return out


def test_core_count_is_read_only_by_the_helper():
    """The digest holds at any core count because builders read it only
    through `operators.spread.leaf_parallelism`, which the digest run
    pins. A direct ``defaultParallelism`` read would slip past the
    registry digest test at its recorded parallelism, where the two
    values are equal, so this guard reads the source instead."""
    readers = [
        rel for rel, text in _sources("eventstreams_spark").items()
        if rel != CORE_COUNT_HELPER and "defaultParallelism" in text
    ]
    assert not readers, f"read the core count through operators.spread.leaf_parallelism, not defaultParallelism: {readers}"


def test_no_source_names_the_checkout_path():
    """Engine, tools and tests find their checkout from ``__file__``, so
    a copy of the tree checks and writes into itself, never into the
    tree it was copied from."""
    texts = _sources("eventstreams_spark", "tools", "tests", "bench.py", "__spark_entry__.py")
    naming = sorted(rel for rel, text in texts.items() if REPO in text)
    assert not naming, f"derive the checkout path from __file__, do not write {REPO!r}: {naming}"


def test_digest_names_only_registry_queries():
    stale = sorted(set(DIGEST["queries"]) - set(QUERIES))
    assert not stale, f"digest entries for queries not in the registry: {stale}; run `{GENERATOR}`"


# -- the parser, over literal plan strings (no Spark) --------------------

_PLAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- TakeOrderedAndProject(limit=10, orderBy=[n#3L DESC NULLS LAST], output=[k#1,n#3L])
   +- HashAggregate(keys=[k#1], functions=[count(1)], output=[k#1, n#3L])
      +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=20]
         +- HashAggregate(keys=[k#1], functions=[partial_count(1)], output=[k#1, count#5L])
            +- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false
               :- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=11]
               :  +- FileScan parquet [k#1] Batched: true, Format: Parquet, ReadSchema: struct<k:string>
               +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=15]
                  +- BroadcastNestedLoopJoin BuildRight, Cross
                     :- InMemoryTableScan [k#2]
                     :     +- InMemoryRelation [k#2], StorageLevel(disk, memory, deserialized, 1 replicas)
                     :           +- *(1) ColumnarToRow
                     :              +- FileScan parquet [k#2] Batched: true, Format: Parquet, ReadSchema: struct<k:string>
                     +- BroadcastExchange IdentityBroadcastMode, [plan_id=14]
                        +- Scan ExistingRDD[n#9L]
"""


def test_digest_counts_each_column():
    assert digest_plan_text(_PLAN) == {
        "exchange.broadcast": 2,
        "exchange.hash": 1,
        "join.BroadcastHashJoin": 1,
        "join.BroadcastNestedLoopJoin": 1,
        "op.HashAggregate": 2,
        "op.InMemoryTableScan": 1,
        "op.TakeOrderedAndProject": 1,
        "scan.parquet": 2,
        "scan.rdd": 1,
    }


def test_digest_reads_operators_behind_codegen_marker():
    plan = "*(2) Project [a#1]\n+- *(2) Window [rank(a#1) windowspecdefinition(...)]\n   +- *(1) Generate explode(xs#2), [a#1]\n"
    assert digest_plan_text(plan) == {"op.Generate": 1, "op.Window": 1}


def test_digest_skips_repartition_by_num_exchanges_of_any_kind():
    plan = (
        "Exchange SinglePartition, REPARTITION_BY_NUM, [plan_id=1]\n"
        "+- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=2]\n"
        "   +- Exchange hashpartitioning(k#1, 4), REPARTITION_BY_NUM, [plan_id=3]\n"
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=4]\n"
        "         +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=5]\n"
    )
    assert digest_plan_text(plan) == {"exchange.range": 1, "exchange.single": 1}


def test_digest_counts_broadcast_exchange_and_nested_loop_apart():
    plan = (
        "BroadcastNestedLoopJoin BuildRight, Inner\n"
        ":- CartesianProduct\n"
        "+- BroadcastExchange IdentityBroadcastMode, [plan_id=1]\n"
    )
    assert digest_plan_text(plan) == {
        "exchange.broadcast": 1,
        "join.BroadcastNestedLoopJoin": 1,
        "join.CartesianProduct": 1,
    }


def test_digest_counts_file_scans_not_formatted_scan_lines():
    plan = (
        "Union\n"
        ":- FileScan parquet [a#1] Batched: true, Location: InMemoryFileIndex[file:/d/Scan parquet]\n"
        "+- Scan parquet  (2)\n"
    )
    assert digest_plan_text(plan) == {"scan.parquet": 1}


def test_digest_names_python_eval_nodes():
    plan = (
        "MapInPandas probe(id#1), [pid#2L], false\n"
        "+- ArrowEvalPython [f(x#3)#4], [pythonUDF0#5], 200\n"
        "   +- BatchEvalPython [g(x#3)#6], [pythonUDF1#7]\n"
        "      +- FlatMapGroupsInPandasWithState fold(k#8), [k#8]\n"
    )
    assert digest_plan_text(plan) == {
        "python.ArrowEvalPython": 1,
        "python.BatchEvalPython": 1,
        "python.FlatMapGroupsInPandasWithState": 1,
        "python.MapInPandas": 1,
    }


_FILE = {
    "parallelism": 4,
    "queries": {"q": {"scan.parquet": 1, "join.BroadcastHashJoin": 2}},
}


def test_missing_query_names_the_generator():
    (msg,) = digest_mismatches("new_q", {"scan.parquet": 1}, _FILE)
    assert "new_q" in msg and f"{GENERATOR} new_q" in msg


def test_mismatch_names_query_and_column():
    got = {"scan.parquet": 1, "join.BroadcastHashJoin": 1, "join.SortMergeJoin": 1}
    msgs = digest_mismatches("q", got, _FILE)
    assert len(msgs) == 2
    assert all(m.startswith("q: join.") for m in msgs)
    assert digest_mismatches("q", dict(_FILE["queries"]["q"]), _FILE) == []


def test_invariants_fail_even_when_recorded():
    rec = {"queries": {"q": {"join.CartesianProduct": 1, "exchange.range": 1}}, "parallelism": 4}
    msgs = digest_mismatches("q", dict(rec["queries"]["q"]), rec)
    assert [m.split(" =")[0] for m in msgs] == ["q: join.CartesianProduct", "q: exchange.range"]
