"""Oracle-parity tests: the t2 oracle check, `check_query` from
tools/driver_sim.py, for every query in the registry that declares
oracle SQL (SURVEY.md §5.3.1)."""

from __future__ import annotations

import pandas as pd
import pytest

from eventstreams_spark import registry
from tools.driver_sim import check_query, oracle_connection

registry._ensure_loaded()
SPECS = [s for s in registry.REGISTRY.values() if s.oracle is not None]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.slow  # ~6 min all-registry oracle replay; tools/driver_sim.py
# hash-checks declared queries against DuckDB itself, so the default
# tier keeps only the fast structural checks below (see pytest.ini)
@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_oracle_parity(spec, spark, sf_dir, oracle_con):
    # builders persist intermediates and never unpersist: each query
    # starts from an empty cache, as in tools/driver_sim.py
    spark.catalog.clearCache()
    problems = check_query(spark, sf_dir, oracle_con, spec.builder, spec.oracle)
    assert not problems, f"{spec.name}: {problems}"


class _Frame:
    """A stand-in for a Spark DataFrame: only ``toPandas`` is read."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_check_query_hashes_values_with_their_dtype(sf_dir):
    """An int64 123 against the oracle's float64 123.0 is a mismatch —
    `canon` renders them as "123" and "123.0" — while equal
    frames pass, whatever their row order. No Spark session."""
    import duckdb

    ints = _Frame(pd.DataFrame({"k": ["a", "b"], "x": pd.Series([123, 7], dtype="int64")}))
    both = "SELECT * FROM (VALUES ('b', 7), ('a', 123)) t(k, x)"
    as_double = "SELECT k, CAST(x AS DOUBLE) AS x FROM (VALUES ('a', 123), ('b', 7)) t(k, x)"
    with duckdb.connect() as con:
        assert check_query(None, sf_dir, con, lambda spark, sf: ints, both) == []
        assert check_query(None, sf_dir, con, lambda spark, sf: ints, as_double) == ["value-hash mismatch"]


def test_oracle_type_audit_clean(sf_dir):
    """Every oracle's DuckDB result schema must be free of driver-
    canonicalizer trap types (HUGEINT/DECIMAL/LIST/STRUCT/MAP) — the
    failure class behind ALL eight round-1 driver reds. Wiring the
    audit into the suite makes it impossible to skip after an oracle
    edit (VERDICT r2 #8). No Spark needed: types come from DuckDB
    relation description only (~2 s)."""
    from tools.oracle_type_audit import main

    assert main(sf_dir) == 0, "oracle type audit found traps/errors (see stdout)"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_registry_oracle_names_consistent():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 9


def test_operators_md_current():
    """OPERATORS.md claims to be the always-current registry index
    (SURVEY §2.12) but drifted 306 vs 331 in r3 (VERDICT r3 #2): one
    data row per registry query, or the test is red until
    `python tools/gen_coverage.py` is rerun."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "OPERATORS.md")
    with open(path, encoding="utf-8") as fh:
        lines = [ln for ln in fh if ln.startswith("|")]
    # drop the header and separator rows
    data_rows = [ln for ln in lines if not re.match(r"^\|\s*(Query|---)", ln)]
    assert len(data_rows) == len(registry.all_queries()), (
        f"OPERATORS.md has {len(data_rows)} rows but the registry has "
        f"{len(registry.all_queries())} queries — rerun tools/gen_coverage.py"
    )
    # every registry query appears by name
    text = "".join(data_rows)
    missing = [n for n in registry.all_queries() if f"`{n}`" not in text]
    assert not missing, f"OPERATORS.md missing: {missing[:5]}"
