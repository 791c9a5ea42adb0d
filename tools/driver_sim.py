"""Simulate the external driver: vanilla SparkSession, t1 smoke +
oracle hash compare at sf0.01, on the engine of the checkout that holds
this file. Usage: python tools/driver_sim.py [query ...]

`check_query` is the one oracle check: this script, the slow test tier
(tests/test_parity.py) and the benchmark's result hash all use it or
its `frame_hash`. Both sides go through pandas before hashing — Spark
via toPandas(), DuckDB via .df(). So DuckDB HUGEINT -> float64 ("123.0")
while Spark long -> int64 ("123"): a hash mismatch the old fetchall()
path masked. List-typed result columns cannot be canonicalized ->
reported FAIL here.
"""
import datetime
import decimal
import hashlib
import sys
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.01"


class Unhashable(Exception):
    pass


def canon(v):
    if isinstance(v, (list, np.ndarray, dict)):
        raise Unhashable(f"list/array-typed value (driver canonicalizer crashes): {type(v)}")
    if v is None or pd.isna(v):
        return "NULL"
    if isinstance(v, (np.floating, np.integer, np.bool_)):
        v = v.item()
    if isinstance(v, float):
        # NaN/NaT already returned NULL via pd.isna above
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        v = v.replace(tzinfo=None)
        # midnight timestamps canonicalize as dates: DuckDB .df() turns a
        # DATE column into datetime64, while Spark dates stay date objects
        # — the real driver hash-matched such pairs in round 1
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def frame_hash(pdf):
    # canonicalize per COLUMN (iterrows would upcast a mixed-dtype row
    # to one dtype and mask exactly the int64-vs-float64 drift the real
    # driver trips on)
    cols = sorted(pdf.columns)
    canon_cols = [[canon(v) for v in pdf[c]] for c in cols]
    lines = sorted("\x1f".join(vals) for vals in zip(*canon_cols))
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(sf_dir):
    """A DuckDB connection with one view per catalog table over the
    parquet files in ``sf_dir``: where every oracle runs."""
    from eventstreams_spark import catalog

    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(spark, sf_dir, con, builder, oracle):
    """The oracle check of one query: ``builder(spark, sf_dir)``
    through toPandas() against ``oracle`` through ``con``'s .df().
    Returns the problems — row count, column set, or "value-hash
    mismatch" (checked only when the first two agree); [] is a pass."""
    spdf = builder(spark, sf_dir).toPandas()
    opdf = con.execute(oracle).df()
    problems = []
    if len(spdf) != len(opdf):
        problems.append(f"count {len(spdf)} vs {len(opdf)}")
    if sorted(spdf.columns) != sorted(opdf.columns):
        problems.append(f"cols {sorted(spdf.columns)} vs {sorted(opdf.columns)}")
    if not problems and frame_hash(spdf) != frame_hash(opdf):
        problems.append("value-hash mismatch")
    return problems


def _fresh_session():
    """A vanilla session shaped like the real driver's (no engine
    confs). The sim recycles it every RESTART_EVERY queries: the real
    driver samples ~50 queries per session, while one session running
    all 450 accumulates JVM heap pressure clearCache() cannot release
    (r5: executor OOM at ~370 queries in, default 1g heap) — periodic
    restart keeps each session inside the driver's own envelope
    WITHOUT adding memory confs the driver would not have.
    """
    spark = (SparkSession.builder.master("local[8]")
             .appName("driver-sim").config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


RESTART_EVERY = 100


def _rebuild_session(old):
    """Recover from a DEAD JVM (a heap OOM in local mode kills
    executor and driver together): stop() best-effort, then clear
    pyspark's cached gateway/session singletons so getOrCreate
    launches a fresh JVM instead of handing back the corpse. Without
    this, one OOM query turns every later query into a py4j EXC and
    the recycle path crashes on spark.stop() (seen r10-open:
    recsys_mrr_at_10 OOM -> 54 phantom EXCs -> sim abort)."""
    from pyspark import SparkContext

    try:
        old.stop()
    except Exception:
        pass
    for attr in ("_instantiatedSession", "_activeSession"):
        try:
            setattr(SparkSession, attr, None)
        except Exception:
            pass
    for attr in ("_active_spark_context", "_gateway", "_jvm"):
        try:
            setattr(SparkContext, attr, None)
        except Exception:
            pass
    return _fresh_session()


def _session_alive(spark) -> bool:
    try:
        spark.sql("select 1").collect()
        return True
    except Exception:
        return False


def main():
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    only = set(sys.argv[1:])
    spark = _fresh_session()

    # t1 smoke
    rows = e.entry(spark).collect()
    assert len(rows) > 0, "entry() returned no rows"
    print(f"t1 smoke: OK ({len(rows)} rows)", flush=True)

    con = oracle_connection(SF_DIR)
    qs, oracles = e.queries(), e.oracle_sql()
    fails, n_ok = [], 0
    n_run = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        if n_run and n_run % RESTART_EVERY == 0:
            print(f"  -- recycling Spark session after {n_run} queries",
                  flush=True)
            spark = _rebuild_session(spark)
        n_run += 1
        t0 = time.time()
        try:
            # builders persist intermediates and (house style) never
            # unpersist — across ~300 queries in ONE session the
            # accumulated cache OOMs the heap (seen at 295 queries:
            # java heap space on the alphabetically-late heavy joins).
            # Each query must be self-contained anyway, so drop all
            # cached state between queries, like test_plans' fixture.
            spark.catalog.clearCache()
            problems = check_query(spark, SF_DIR, con, qs[name], oracles[name])
            if problems:
                fails.append((name, "; ".join(problems)))
                print(f"  {name}: FAIL {problems} [{time.time()-t0:.1f}s]",
                      flush=True)
            else:
                n_ok += 1
                print(f"  {name}: OK [{time.time()-t0:.1f}s]", flush=True)
        except Exception as ex:
            fails.append((name, f"EXC {type(ex).__name__}: {str(ex)[:200]}"))
            print(f"  {name}: EXC {str(ex)[:300]}", flush=True)
            if not _session_alive(spark):
                print("  -- JVM dead after EXC; rebuilding session",
                      flush=True)
                spark = _rebuild_session(spark)
    print(f"\n== {n_ok} oracle-OK, {len(fails)} FAIL ==", flush=True)
    for name, why in fails:
        print(f"FAIL {name}: {why}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
