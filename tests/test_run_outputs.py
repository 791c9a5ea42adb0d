"""`run` writes every output from one pass (`__main__._write_outputs`).

A streaming config with 2 or more outputs runs ONE foreachBatch query
whose outputs commit each micro-batch exactly once: stage under
``<path>/_staging/<batch>``, rename into ``<path>`` with a
``<query id>-b<batch>-`` prefix, then write the marker
``<checkpoint>/outputs/<output>/<batch>``. These tests break that
protocol at each step and check that a rerun leaves every row in its
output exactly once.
"""

from __future__ import annotations

import json

import pytest

import eventstreams_spark.__main__ as cli
from eventstreams_spark.__main__ import main

_LINES = "10.0.0.9 GET 200\n10.0.0.9 POST 500\nbad line\n"
_STEPS = [
    {"type": "grok", "source": "line",
     "pattern": "%{IP:client} %{WORD:verb} %{NONNEGINT:status}"},
    {"type": "deadletter", "when": "client = ''", "reason": "grok_failure"},
]


def _stream_config(tmp_path, ck="ck", **extra) -> dict:
    src = tmp_path / "in"
    if not src.exists():
        src.mkdir()
        (src / "a.log").write_text(_LINES)
    return {
        "source": {"format": "text", "path": str(src), "stream": True,
                   "schema": "line string"},
        "steps": _STEPS,
        "sink": {"format": "parquet", "path": str(tmp_path / "out"),
                 "checkpointLocation": str(tmp_path / ck), "availableNow": True},
        "dlq": {"format": "parquet", "path": str(tmp_path / "dlq")},
        **extra,
    }


def _write(tmp_path, cfg: dict, name: str = "run.json") -> str:
    path = tmp_path / name
    path.write_text(json.dumps(cfg))
    return str(path)


def _rows(spark, path) -> list:
    return sorted((r.line, getattr(r, "_dlq_reason", None)) for r in spark.read.parquet(str(path)).collect())


def _files(path) -> set[str]:
    return {p.name for p in path.iterdir() if p.name.endswith(".parquet")}


HEALTHY = [("10.0.0.9 GET 200", None), ("10.0.0.9 POST 500", None)]
DEAD = [("bad line", "grok_failure")]


def test_dlq_failure_after_sink_commit_replays_only_the_dlq(spark, tmp_path):
    """(a) The DLQ write fails after the sink committed batch 0 (a regular
    file sits at the DLQ path). After the file is removed, the rerun
    replays batch 0: the sink's committed files are kept as they are,
    not rewritten, and the DLQ gets each dead letter once."""
    cfg = _write(tmp_path, _stream_config(tmp_path))
    (tmp_path / "dlq").write_text("not a directory")
    with pytest.raises(Exception):
        main(["run", cfg])
    committed = _files(tmp_path / "out")
    assert committed and _rows(spark, tmp_path / "out") == HEALTHY

    (tmp_path / "dlq").unlink()
    main(["run", cfg])
    assert _files(tmp_path / "out") == committed
    assert _rows(spark, tmp_path / "out") == HEALTHY
    assert _rows(spark, tmp_path / "dlq") == DEAD


def test_crash_between_rename_and_marker_is_replayed_once(spark, tmp_path, monkeypatch):
    """(b) The sink's files are renamed into place but its marker is
    never written. The rerun deletes that batch's own files before it
    writes them again: each row is in each output exactly once."""
    cfg = _write(tmp_path, _stream_config(tmp_path))

    def crash(fs, marker):
        raise RuntimeError(f"injected crash before {marker}")

    monkeypatch.setattr(cli._HadoopFs, "touch", crash)  # only markers are touched
    with pytest.raises(Exception):
        main(["run", cfg])
    assert _rows(spark, tmp_path / "out") == HEALTHY  # renamed, not marked
    monkeypatch.undo()

    main(["run", cfg])
    assert _rows(spark, tmp_path / "out") == HEALTHY
    assert _rows(spark, tmp_path / "dlq") == DEAD


def test_fresh_checkpoint_keeps_existing_output_files(spark, tmp_path):
    """(c) A fresh checkpoint over output directories that already hold
    files, some written by another query's batch 0: no existing file is
    deleted or hidden, the new query's rows are added beside them."""
    spark.createDataFrame([("kept by a batch job", None)], "line string, _dlq_reason string") \
        .write.parquet(str(tmp_path / "dlq"))
    main(["run", _write(tmp_path, _stream_config(tmp_path, ck="ck1"))])
    before = {d: _files(tmp_path / d) for d in ("out", "dlq")}

    main(["run", _write(tmp_path, _stream_config(tmp_path, ck="ck2"), "fresh.json")])
    for d, names in before.items():
        assert names < _files(tmp_path / d)
    assert _rows(spark, tmp_path / "out") == sorted(HEALTHY * 2)
    assert _rows(spark, tmp_path / "dlq") == sorted(DEAD * 2 + [("kept by a batch job", None)])


def test_output_with_a_file_sink_log_is_refused(spark, tmp_path):
    """(d) A single-output streaming run leaves Spark's file sink log
    `_spark_metadata` in its output; readers of such a directory list
    only the logged files, so a multi-output run into it is refused."""
    one = _stream_config(tmp_path)
    one.pop("dlq")
    main(["run", _write(tmp_path, one, "one.json")])
    assert (tmp_path / "out" / "_spark_metadata").is_dir()
    with pytest.raises(SystemExit, match="_spark_metadata"):
        main(["run", _write(tmp_path, _stream_config(tmp_path, ck="ck2"))])


def test_one_output_into_committed_files_is_refused(spark, tmp_path):
    """(d) The converse: a multi-output run commits plain files with no
    `_spark_metadata`; a one-output run into that path would start
    Spark's sink log there and hide them, so it is refused and every
    committed row stays readable."""
    main(["run", _write(tmp_path, _stream_config(tmp_path))])
    one = _stream_config(tmp_path, ck="ck2")
    one.pop("dlq")
    with pytest.raises(SystemExit, match="no _spark_metadata.*new path"):
        main(["run", _write(tmp_path, one, "one.json")])
    assert not (tmp_path / "out" / "_spark_metadata").exists()
    assert _rows(spark, tmp_path / "out") == HEALTHY


def test_one_output_es_bulk_run_restarts(tmp_path):
    """(d) Only Spark's file-sink formats keep `_spark_metadata`. The
    es_bulk sink commits ``bulk-*.ndjson`` payloads and
    ``_batch-<id>.committed`` markers into its path with no such log,
    so a restart of its one-output run is accepted and adds the new
    lines."""
    cfg = _stream_config(tmp_path)
    cfg.pop("dlq")
    cfg["sink"] = {"format": "es_bulk", "path": str(tmp_path / "es"), "index": "logs",
                   "checkpointLocation": str(tmp_path / "ck"), "availableNow": True}
    run = _write(tmp_path, cfg)

    def actions():
        return sum(
            len(p.read_text().splitlines()) // 2 for p in (tmp_path / "es").glob("bulk-*.ndjson")
        )

    main(["run", run])
    assert list((tmp_path / "es").glob("_batch-*.committed"))
    assert not (tmp_path / "es" / "_spark_metadata").exists()
    assert actions() == 3
    (tmp_path / "in" / "b.log").write_text("10.0.0.7 GET 404\n")
    main(["run", run])
    assert actions() == 4


@pytest.mark.parametrize("cmd", ["validate", "run"])
@pytest.mark.parametrize(
    "change, message",
    [
        (lambda c: c.update(fanout={"checkpointLocation": "/x"}),
         "unknown config key.*'fanout'.*ONE foreachBatch query"),
        (lambda c: c.update(dlq={"format": "memory", "queryName": "q"}),
         "dlq: format 'memory' without a path cannot be one of 2 or more"),
        (lambda c: c["dlq"].update(format="console"),
         "dlq: format 'console' cannot be one of 2 or more"),
        (lambda c: c["dlq"].pop("path"),
         "dlq: format 'parquet' without a path"),
        (lambda c: c["dlq"].update(availableNow=False),
         "dlq: availableNow differs from the primary output's"),
        (lambda c: c["sink"].pop("checkpointLocation"),
         "needs a checkpointLocation on its primary output"),
    ],
    ids=["fanout", "memory", "console", "no-path", "availableNow", "no-checkpoint"],
)
def test_multi_output_config_rules(tmp_path, cmd, change, message):
    """(e) `validate` and `run` reject, before any query starts, the
    removed `fanout:` key, a path-less streaming format among 2 or more
    outputs, an availableNow that differs from the primary output's and
    a primary output without a checkpoint."""
    cfg = _stream_config(tmp_path)
    change(cfg)
    with pytest.raises(SystemExit, match=message):
        main([cmd, _write(tmp_path, cfg)])
    assert not (tmp_path / "out").exists()


def test_weblog_run_starts_one_query_and_greps_each_line_once(spark, tmp_path, monkeypatch):
    """(f) The weblog chain (grok COMBINEDAPACHELOG -> date -> translate
    -> deadletter) into a sink and a DLQ starts exactly one streaming
    query. Its micro-batch plan runs grok's regexp_replace once per
    line, and both outputs read the cached batch."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(
        '10.0.0.1 - alice [10/Oct/2024:10:00:00 +0000] '
        '"GET /index.html HTTP/1.1" 200 1043 "-" "Mozilla/5.0"\n'
        "garbled line without structure\n"
    )
    cfg = {
        "source": {"format": "text", "path": str(src), "stream": True, "schema": "value string"},
        "steps": [
            {"type": "grok", "source": "value", "pattern": "%{COMBINEDAPACHELOG}"},
            {"type": "date", "source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"],
             "target": "@timestamp"},
            {"type": "translate", "source": "response", "mapping": {"200": "ok"},
             "target": "status_class", "default": "other"},
            {"type": "deadletter", "when": "clientip = ''", "reason": "grok_failure"},
        ],
        "sink": {"format": "parquet", "path": str(tmp_path / "out"),
                 "checkpointLocation": str(tmp_path / "ck"), "availableNow": True},
        "dlq": {"format": "parquet", "path": str(tmp_path / "dlq"),
                "checkpointLocation": str(tmp_path / "ck-dlq"), "availableNow": True},
    }
    started, written = [], []
    start = DataStreamWriter.start
    commit = cli._commit_batch

    def spy_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    def spy_commit(df, name, conf, batch_id):
        written.append(df._jdf.queryExecution().executedPlan().toString())
        commit(df, name, conf, batch_id)

    monkeypatch.setattr(DataStreamWriter, "start", spy_start)
    monkeypatch.setattr(cli, "_commit_batch", spy_commit)
    main(["run", _write(tmp_path, cfg)])

    assert len(started) == 1
    assert started[0]._jsq.explainInternal(False).count("regexp_replace(") == 1
    assert len(written) == 2
    assert all("InMemoryTableScan" in p and "regexp_replace(" not in p for p in written)
    assert [r.request for r in spark.read.parquet(str(tmp_path / "out")).collect()] == ["/index.html"]
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 1
    assert not (tmp_path / "ck-dlq").exists()


def test_batch_sink_and_dlq_compute_the_chain_once(spark, tmp_path):
    """(g) A batch `sink` + `dlq` run persists the frame once: a Python
    step in the chain sees each input row once, not once per output."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.log").write_text(_LINES)
    calls = spark.sparkContext.accumulator(0)

    def seen(line):
        calls.add(1)
        return line

    cfg = {
        "source": {"format": "text", "path": str(src), "schema": "line string"},
        "steps": [
            _STEPS[0],
            # the dead-letter tag depends on the Python step, so neither
            # output's filter can be pushed below it
            {"type": "udf", "target": "seen", "fn": seen, "input_cols": ["client"]},
            {"type": "deadletter", "when": "seen = ''", "reason": "grok_failure"},
        ],
        "sink": {"format": "parquet", "path": str(tmp_path / "out")},
        "dlq": {"format": "parquet", "path": str(tmp_path / "dlq")},
    }
    cli.cmd_run(cfg, None)
    assert _rows(spark, tmp_path / "out") == HEALTHY
    assert _rows(spark, tmp_path / "dlq") == DEAD
    assert calls.value == 3
