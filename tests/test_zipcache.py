"""The stat-keyed zipimporter cache refresh (eventstreams_spark/zipcache.py),
the engine archive that ``session.ship_package`` sends to workers, and
the rule that every GroupState and grouped-map fold is a module-level
engine function unpickled through ``streaming.stateful.keyed_state`` or
``streaming.stateful.grouped_fold``."""

from __future__ import annotations

import inspect
import os
import sys
import zipfile
import zipimport

import pytest

from eventstreams_spark import session, zipcache
from eventstreams_spark.streaming import stateful

STOCK = getattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Patch the method from stock for this test and count every
    central-directory read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK)
    monkeypatch.setattr(zipcache, "_STOCK_REREADS", True)
    zipcache.install()
    stock_read = zipimport._read_directory
    calls = []

    def counting(archive):
        calls.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)
    zipcache._read_keys.pop(path, None)


def test_unchanged_archive_is_not_reread(reads, archive):
    zi = zipimport.zipimporter(archive)
    other = zipimport.zipimporter(archive)  # a second importer, same archive
    zi.invalidate_caches()  # first call: no key recorded yet, reads
    n = len(reads)
    for _ in range(5):
        zi.invalidate_caches()
        other.invalidate_caches()
    assert len(reads) == n
    assert other._files is zipimport._zip_directory_cache[archive]
    assert zi.find_spec("mod_a") is not None


def test_rewritten_archive_is_reread_and_new_module_importable(reads, archive):
    zi = zipimport.zipimporter(archive)
    zi.invalidate_caches()
    assert zi.find_spec("mod_b") is None
    n = len(reads)
    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    zi.invalidate_caches()
    assert len(reads) == n + 1
    assert zi.find_spec("mod_b") is not None
    assert zi.get_source("mod_b") == "Y = 2\n"


def test_missing_archive_behaves_as_stock(reads, archive):
    zi = zipimport.zipimporter(archive)
    zi.invalidate_caches()
    os.remove(archive)
    zi.invalidate_caches()
    assert zi._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in zipcache._read_keys
    # recreated: read again, not served from a stale key
    _write_zip(archive, {"mod_c": "Z = 3\n"})
    zi.invalidate_caches()
    assert zi.find_spec("mod_c") is not None


def test_install_twice_wraps_once(reads):
    zipcache.install()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched.stat_keyed
    assert patched.__wrapped__ is STOCK


def test_newer_python_keeps_stock_method(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STOCK)
    monkeypatch.setattr(zipcache, "_STOCK_REREADS", False)
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is STOCK


def test_engine_import_installs_patch():
    assert zipcache._STOCK_REREADS == (sys.version_info < (3, 13))
    if zipcache._STOCK_REREADS:
        assert zipimport.zipimporter.invalidate_caches.stat_keyed


class _FakeContext:
    def __init__(self):
        self.applicationId = f"fake-app-{id(self)}"
        self.py_files: list[str] = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_ship_package_ignores_stale_archive_at_pid_path(tmp_path, monkeypatch):
    """A later process with the same pid must not ship an earlier
    checkout's archive that still sits at the old per-pid path."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_package_zip", None)
    stale = tmp_path / f"eventstreams_spark_pkg_{os.getpid()}.zip"
    _write_zip(stale, {"eventstreams_spark/__init__": "BOGUS = True\n"})

    fake = _FakeSession()
    session.ship_package(fake)
    (shipped,) = fake.sparkContext.py_files
    assert os.path.dirname(shipped) == str(tmp_path)
    assert shipped != str(stale)
    with zipfile.ZipFile(shipped) as z:
        names = set(z.namelist())
        init = z.read("eventstreams_spark/__init__.py").decode()
    assert "eventstreams_spark/zipcache.py" in names
    assert "BOGUS" not in init and "_zipcache.install()" in init
    # a second session in the same process reuses the same archive
    again = _FakeSession()
    session.ship_package(again)
    assert again.sparkContext.py_files == [shipped]
    session._remove(shipped)
    assert not os.path.exists(shipped)


ENGINE = os.path.dirname(os.path.abspath(session.__file__))
GROUP_STATE_CALL = ".applyInPandasWithState("
GROUPED_MAP_CALL = ".applyInPandas("


def _engine_calls(call: str) -> dict[str, int]:
    """How often each engine source file contains ``call``."""
    callers = {}
    for root, dirs, files in os.walk(ENGINE):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f), encoding="utf-8") as src:
                    n = src.read().count(call)
                if n:
                    callers[os.path.relpath(os.path.join(root, f), ENGINE)] = n
    return callers


def test_group_state_is_called_only_by_the_helper():
    """A GroupState operator that calls Spark itself skips the
    module-level check, so a closure fold would again be pickled by
    value and its worker would never import the engine. The helper's
    own check cannot see such a call, so this guard reads the source."""
    callers = _engine_calls(GROUP_STATE_CALL)
    assert callers == {os.path.join("streaming", "stateful.py"): 1}, (
        f"call applyInPandasWithState through streaming.stateful.keyed_state: {callers}"
    )
    assert GROUP_STATE_CALL in inspect.getsource(stateful.keyed_state)


def test_grouped_map_is_called_only_by_the_helper():
    """The batch twin of the guard above: every ``applyInPandas`` goes
    through ``grouped_fold``, whose module-level check a direct call
    would skip."""
    callers = _engine_calls(GROUPED_MAP_CALL)
    assert callers == {os.path.join("streaming", "stateful.py"): 1}, (
        f"call applyInPandas through streaming.stateful.grouped_fold: {callers}"
    )
    assert GROUPED_MAP_CALL in inspect.getsource(stateful.grouped_fold)


def test_keyed_state_rejects_a_nested_fold():
    def fold(key, pdfs, state):
        yield from ()

    with pytest.raises(TypeError, match="must be module-level functions.*<locals>"):
        stateful.keyed_state(None, "k", fold, added="n long", state="n long")


def test_grouped_fold_rejects_a_nested_fold():
    def fold(key, pdfs, state):
        yield from ()

    with pytest.raises(TypeError, match="must be module-level functions.*<locals>"):
        stateful.grouped_fold(None, "k", fold, added="n long")


def test_default_driver_memory_fits_the_host():
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    mem = session.default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(48 << 10, total_mb // 2)


def _assert_engine_workers_patched(spark):
    """Every Python worker that has loaded the engine reports the
    stat-keyed method, and at least one has loaded it."""

    def probe(it):
        import sys
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "loaded": ["eventstreams_spark.streaming.stateful" in sys.modules],
            "patched": [bool(getattr(
                zipimport.zipimporter.invalidate_caches, "stat_keyed", False
            ))],
        })

    n = 4 * spark.sparkContext.defaultParallelism
    seen = spark.range(0, n, 1, n).mapInPandas(
        probe, "pid long, loaded boolean, patched boolean"
    ).collect()
    engine_workers = [r.patched for r in seen if r.loaded]
    assert engine_workers, seen
    if sys.version_info < (3, 13):
        assert all(engine_workers), seen


def test_worker_that_ran_drift_fold_has_patched_method(spark, tmp_path):
    """The drift fold is module-level, so unpickling it imports the
    engine on the worker, which installs the patch: every worker that
    has loaded the engine then reports the stat-keyed method."""
    from eventstreams_spark.streaming.stateful import schema_drift_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("".join(
        '{"a": 1}\n' if i % 2 else '{"b": 2}\n' for i in range(40)
    ))
    q = (
        schema_drift_stream(spark.readStream.text(str(src)), "value")
        .writeStream.format("memory").queryName("t_zipcache_drift")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.key_set: r.total_rows for r in spark.table("t_zipcache_drift").collect()}
    assert got == {"a": 20, "b": 20}
    _assert_engine_workers_patched(spark)


def test_worker_that_ran_accumulate_fold_has_patched_method(spark, tmp_path):
    """The accumulate fold is a module-level function bound with
    functools.partial, so it too is unpickled by reference and its
    worker imports the engine."""
    from eventstreams_spark.streaming.stateful import accumulate_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("".join(f"{'xy'[i % 2]},{i}\n" for i in range(40)))
    stream = spark.readStream.schema("k string, v double").csv(str(src))
    q = (
        accumulate_stream(stream, "k", "v")
        .writeStream.format("memory").queryName("t_zipcache_acc")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.k: (r.running_sum, r.running_count) for r in spark.table("t_zipcache_acc").collect()}
    assert got == {"x": (380.0, 20), "y": (400.0, 20)}
    _assert_engine_workers_patched(spark)


def test_worker_that_ran_grouped_fold_has_patched_method(spark):
    """A batch fold goes through ``grouped_fold`` as a module-level
    function bound with functools.partial, so its worker imports the
    engine too; the rows are CUSUM's (target 10, threshold 4)."""
    from eventstreams_spark.operators.changepoint import cusum_batch

    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate([12.0, 13.0, 15.0, 10.0])], "k string, ts long, v double"
    )
    got = [
        (r.s_pos, r.alarm)
        for r in cusum_batch(df, "k", "ts", "v", target=10.0, threshold=4.0).orderBy("ts").collect()
    ]
    assert got == [(2.0, False), (5.0, True), (5.0, True), (0.0, False)]
    _assert_engine_workers_patched(spark)
