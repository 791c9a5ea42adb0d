"""Registry-wide plan digest (SCALE.md §15, eventstreams_spark/plans).

Every registry query is built once (cache cleared, the digest confs
pinned, see below) and its executed plan's digest (`plan_digest`:
parquet scans, checkpoint scans, exchanges by kind, joins by operator,
Python-eval nodes, window/aggregate/top-k/generate/expand/cache
operators) must EQUAL its line in plan_digest.json. A changed count is
a changed plan: a join that falls back to sort-merge, a new consumer
of an unpersisted frame (one more parquet scan: the round-4 lineage
fan-out lesson), a UDF where a JVM expression was. If the change is
intended, regenerate the entry (`python tools/gen_plan_digest.py
<query>`) and commit the one-line diff; a query with no entry fails
the same way. This equality is the only check on the digest's counts;
tests/test_plans.py keeps what they cannot hold, shuffle counts among
them, because the digest skips REPARTITION_BY_NUM exchanges.

The test names date from when this gate recorded parquet scans only
(one budget per query); the scan count is now the ``scan.parquet``
column of the digest, compared for equality like every other column.

Two invariants hold for every registry query, with no allowlist: no
CartesianProduct and no range-partitioning exchange (a global sort).
"No SinglePartition exchange" is NOT an invariant: 157 queries end a
global aggregate with ``Exchange SinglePartition, ENSURE_REQUIREMENTS``,
which moves one partial row per partition and is cheap and correct.
It is recorded as the ``exchange.single`` column only.

What is pinned, and why: `plans.pinned_digest_confs` sets
``spark.sql.shuffle.partitions`` and
``spark.sql.leafNodeDefaultParallelism`` to the digest's recorded
parallelism for the module and restores them afterwards. Builders read
the core count only through `operators.spread.leaf_parallelism`,
which returns the leaf conf, and Spark sizes its own leaf scans by it.
So every query plans the same at any ``SPARK_GRAFT_CPUS``: a frame of
one partition (one core) would otherwise satisfy a distribution that
needs an exchange at four, and a bucket count derived from the cores
would change the join.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry
from eventstreams_spark.plans import DIGEST_GENERATOR, digest_mismatches, pinned_digest_confs, plan_digest

DIGEST_PATH = os.path.join(os.path.dirname(__file__), "plan_digest.json")

with open(DIGEST_PATH) as _f:
    DIGEST = json.load(_f)

QUERIES = entry.queries()


def test_every_query_has_a_budget():
    missing = sorted(set(QUERIES) - set(DIGEST["queries"]))
    assert not missing, f"queries without a plan digest (run `{DIGEST_GENERATOR} {' '.join(missing)}`): {missing}"


@pytest.fixture(scope="module")
def pinned_partitions(spark):
    with pinned_digest_confs(spark, DIGEST["parallelism"]):
        yield


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_scan_count_within_budget(spark, sf_dir, pinned_partitions, name):
    spark.catalog.clearCache()
    got = plan_digest(QUERIES[name](spark, sf_dir))
    problems = digest_mismatches(name, got, DIGEST)
    assert not problems, "\n".join(problems)
