"""Audit every registry oracle for driver-canonicalizer trap types.

The driver canonicalizes the DuckDB oracle result via pandas ``.df()``:
- HUGEINT (int128, e.g. ``sum(BIGINT)`` / window sums of ints) renders
  as float64 -> repr "123.0" while Spark emits int64 "123" -> hash red.
- DECIMAL renders as object/Decimal -> repr drift vs Spark double.
- LIST/STRUCT/MAP columns crash pandas ``sort_values`` ("unhashable
  type: 'list'") in the canonicalizer.

This script runs every ``oracle_sql()`` against the DuckDB views of
``tools/driver_sim.py::oracle_connection`` over ``sf_dir`` (default
the sf0.001 test data; LIMIT 0 is not enough -- types come from the
relation, so we just describe the relation without fetching rows) and
reports any oracle whose result schema contains a trap type. CI-style
exit: nonzero if any trap found.

Usage: python tools/oracle_type_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventstreams_spark.registry import _ensure_loaded, all_oracles  # noqa: E402
from tools.driver_sim import oracle_connection  # noqa: E402

# DuckDB type names that the driver's pandas canonicalizer mishandles.
TRAP_PREFIXES = ("HUGEINT", "UHUGEINT", "DECIMAL", "STRUCT", "MAP", "UNION")


def is_trap(type_str: str) -> str | None:
    t = type_str.upper()
    if t.endswith("[]") or t.startswith("LIST") or "[]" in t:
        return "LIST"
    for p in TRAP_PREFIXES:
        if t.startswith(p):
            return p
    return None


def main(sf_dir: str | None = None) -> int:
    if sf_dir is None:
        # argv only when invoked as a script; under pytest argv holds
        # pytest's own flags, so callers pass sf_dir explicitly
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    _ensure_loaded()
    con = oracle_connection(sf_dir)

    bad: list[tuple[str, str, str, str]] = []
    errs: list[tuple[str, str]] = []
    oracles = all_oracles()
    for name, sql in sorted(oracles.items()):
        try:
            rel = con.sql(sql)
        except Exception as e:  # noqa: BLE001 - report, don't die
            errs.append((name, str(e).splitlines()[0]))
            continue
        for col, typ in zip(rel.columns, rel.types):
            trap = is_trap(str(typ))
            if trap:
                bad.append((name, col, str(typ), trap))

    for name, err in errs:
        print(f"SQL-ERROR {name}: {err}")
    for name, col, typ, trap in bad:
        print(f"TRAP {trap:8s} {name}.{col} :: {typ}")
    print(
        f"-- audited {len(oracles)} oracles: {len(errs)} sql errors, "
        f"{len(set(n for n, *_ in bad))} with trap columns"
    )
    return 1 if (bad or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
