"""SparkSession factory tuned for this engine (SURVEY.md §7 M0.1).

Scale notes (100 TB design): on a real cluster the same builder is used
with a cluster master; the confs set here are scale-safe defaults —
AQE on (runtime coalescing + skew-join splitting), shuffle partitions
sized by env, Arrow enabled for the Pandas-UDF paths. Local-mode-only
knobs (driver memory) are applied only when we create the session
ourselves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level confs that MUST hold for oracle parity regardless of who
# created the session (driver or us). All are runtime-settable SQL confs.
_RUNTIME_CONFS = {
    # events.parquet uses TIMESTAMP(NANOS) which Spark 4 rejects by
    # default (SURVEY.md §1.4, verified failure). Read ns as long, then
    # convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Regenerated testdata writes TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # which Spark 4 would infer as TIMESTAMP_NTZ. All parity checks were
    # validated against TIMESTAMP_LTZ (session tz UTC ⇒ same epoch micros,
    # same values as DuckDB's naive read), so keep the LTZ read path.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so collected
    # values hash-match the oracle.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Cached plans compile WITHOUT adaptive re-planning by default, so
    # every persist()ed subplan shuffles at the session's raw
    # spark.sql.shuffle.partitions — on a vanilla (driver-built)
    # session that is 200 tasks per tiny exchange (observed: 200-task
    # stages all over the r10 driver sim; association_rules 20.3 s).
    # Letting AQE re-plan cached frames coalesces those like any other
    # exchange. Scale-correct in both directions: big cached frames
    # keep their data-sized partitioning, small ones stop paying
    # per-task scheduling for empty partitions.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


_shipped_apps: set[str] = set()
_package_zip: str | None = None


def _write_package_zip() -> str:
    """Zip this checkout's package into a fresh temp file, once per
    process, removed at exit. A fixed per-pid name would let a later
    process with the same pid (common in containers) ship an earlier
    checkout's archive."""
    global _package_zip
    if _package_zip is None:
        import atexit
        import pathlib
        import tempfile
        import zipfile

        pkg_root = pathlib.Path(__file__).resolve().parent
        fd, zpath = tempfile.mkstemp(prefix="eventstreams_spark_pkg_", suffix=".zip")
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for p in sorted(pkg_root.rglob("*.py")):
                z.write(p, arcname=f"eventstreams_spark/{p.relative_to(pkg_root)}")
        atexit.register(_remove, zpath)
        _package_zip = zpath
    return _package_zip


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def ship_package(spark: SparkSession) -> None:
    """Make ``eventstreams_spark`` importable on executor Python
    workers via ``addPyFile``, once per session.

    A driver-created session (the real driver's contract) may run with
    any cwd and only a driver-side ``sys.path`` insert — worker
    processes then cannot resolve by-reference pickles of module-level
    helpers (e.g. the Arrow-batched header parser in
    operators/multimodal.py). Shipping a zip of the package is the
    same mechanism used on a real cluster (``--py-files``)."""
    try:
        # .sparkContext itself raises on Spark Connect sessions (no
        # classic SparkContext) — the whole classic-only path lives in
        # one guard so Connect degrades gracefully (ADVICE r1)
        sc = spark.sparkContext
        app = sc.applicationId
        if app in _shipped_apps:
            return
        sc.addPyFile(_write_package_zip())
        _shipped_apps.add(app)
    except Exception:  # pragma: no cover - e.g. Spark Connect sessions
        pass


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply parity-critical runtime confs to an existing session.

    Called from catalog.load_table so even a driver-created session
    (entry()/queries() contract) reads events.parquet correctly.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on odd builds
            pass
    ship_package(spark)
    return spark


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    48g, capped at half of physical RAM so a local JVM's heap cannot
    grow into the host's OOM killer."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    except (AttributeError, ValueError, OSError):  # no sysconf (non-POSIX)
        half_mb = 0
    return f"{min(48 << 10, half_mb)}m" if half_mb > 0 else "48g"


def get_spark(app_name: str = "eventstreams-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
