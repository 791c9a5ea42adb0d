#!/usr/bin/env python3
"""Regenerate tests/plan_digest.json, the per-query plan digest that
tests/test_scan_budgets.py diffs every registry query against.

For each registry query the tool builds the DataFrame (cache cleared,
at the test suite's default scale factor, with
`eventstreams_spark.plans.pinned_digest_confs` at the file's recorded
"parallelism", as the test pins it) and records
`eventstreams_spark.plans.plan_digest` of its executed plan: parquet
scans, exchanges by kind, joins by operator, Python-eval nodes and
the window/aggregate/top-k/generate/expand/cache operators. The pinned
confs stand in for the core count, so the session's own core count
does not change the digest.

Usage: python tools/gen_plan_digest.py [query ...]
(no args = full registry, entries of removed queries dropped; with
args, only those entries are rebuilt). Regenerating is the moment to
read the diff: a changed count is a changed plan, and the bounds in
tests/test_plans.py name the changes that break a test's reason.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

DIGEST_PATH = os.path.join(ROOT, "tests", "plan_digest.json")


def write_digest(data: dict, path: str = DIGEST_PATH) -> None:
    """JSON with one query per line, so a plan change is a one-line diff."""

    def rows(d: dict) -> str:
        return ",\n".join(f"{json.dumps(k)}: {json.dumps(v, sort_keys=True)}" for k, v in sorted(d.items()))

    with open(path, "w") as f:
        f.write(
            "{\n"
            f'"parallelism": {data["parallelism"]},\n'
            f'"queries": {{\n{rows(data["queries"])}\n}}\n'
            "}\n"
        )


def main() -> int:
    from conftest import SF_DIR

    from eventstreams_spark.plans import pinned_digest_confs, plan_digest
    from eventstreams_spark.session import get_spark
    import __spark_entry__ as entry

    data = {"parallelism": 4, "queries": {}}
    if os.path.exists(DIGEST_PATH):
        with open(DIGEST_PATH) as f:
            data = json.load(f)
    qs = entry.queries()
    only = sys.argv[1:]
    unknown = sorted(set(only) - set(qs))
    if unknown:
        print(f"not registry queries: {unknown}", file=sys.stderr)
        return 2
    if not only:
        data["queries"] = {}
    spark = get_spark("plan-digest")
    failed = []
    with pinned_digest_confs(spark, data["parallelism"]):
        for name in only or sorted(qs):
            spark.catalog.clearCache()
            try:
                data["queries"][name] = plan_digest(qs[name](spark, SF_DIR))
            except Exception as ex:  # record loudly, keep no stale entry
                data["queries"].pop(name, None)
                failed.append(name)
                print(f"  {name}: ERROR {ex}", flush=True)
                continue
            print(f"  {name}: {data['queries'][name]}", flush=True)
    write_digest(data)
    print(f"wrote {len(data['queries'])} digests to {DIGEST_PATH}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
