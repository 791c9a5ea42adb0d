"""CLI: run a declarative pipeline config end to end.

The Logstash-replacement entry point — a user of the reference runs
flows from config; here:

    python -m eventstreams_spark run pipeline.yaml
    python -m eventstreams_spark validate pipeline.yaml
    python -m eventstreams_spark list-steps

Config shape (YAML or JSON):

    source: {format: json, path: /data/in, stream: true, schema: "..."}
    steps:
      - {type: grok, source: line, pattern: "%{IP:client} %{WORD:verb}"}
      - {type: filter, expr: "verb = 'GET'"}
    sink: {format: parquet, path: /data/out,
           checkpointLocation: /data/ck, availableNow: true}

Multi-output (Logstash `output { if ... }`): replace `sink` with a
`sinks` list; each entry takes an optional per-sink `filter`
expression (rows may match several sinks — filters are independent).
A `dlq` output takes the dead-letter rows, and the sinks then get the
healthy rows:

    sinks:
      - {filter: "status_class = 'server_error'", format: parquet,
         path: /data/errors, checkpointLocation: /data/ck,
         availableNow: true}
      - {format: parquet, path: /data/all}
    dlq: {format: parquet, path: /data/dlq}

Every output is written from one pass over the pipeline's rows: with
2 or more outputs the frame (or each micro-batch) is persisted once
and every output reads the cache. A streaming config with one output
runs Spark's own `writeStream` sink. A streaming config with 2 or more
outputs runs ONE foreachBatch query, whose checkpointLocation,
queryName and availableNow come from the primary output (`sink`, else
`sinks[0]`); each output then commits each micro-batch exactly once
(`_commit_batch`), so every output needs a `path` and a file format.

Custom sources (event_generator / event_spool / es_bulk) are
registered automatically so configs can name them like built-ins.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_config(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - yaml is bundled here
            raise SystemExit("pyyaml not available; use a .json config") from e
        return yaml.safe_load(text)
    return json.loads(text)


def cmd_validate(config: dict) -> None:
    from .pipeline import Pipeline

    Pipeline.from_config(config)  # compile errors surface here
    if "source" not in config:
        raise SystemExit("config missing 'source'")
    _outputs(config)
    print("config OK:", len(config.get("steps", [])), "steps")


_CONFIG_KEYS = frozenset({"source", "steps", "sink", "sinks", "dlq"})

# Streaming formats that write no files: a micro-batch written to them
# cannot be staged and renamed, so only a single-output config may use
# them (through Spark's own sink).
_PATHLESS = ("memory", "console", "foreachBatch")
# Formats a streaming query writes through Spark's FileStreamSink, which
# keeps the `_spark_metadata` log in its output path.
_FILE_SINK_FORMATS = ("parquet", "json", "csv", "text", "orc")


def _select(flt: str | None, side: int | None):
    """The rows one output writes: the healthy (``side`` 0) or dead
    (1) rows of the dead-letter split, or all rows (None), then the
    output's own ``filter``."""

    def select(frame):
        from .pipeline import split_dead_letters

        if side is not None:
            frame = split_dead_letters(frame)[side]
        return frame.filter(flt) if flt else frame

    return select


def _outputs(config: dict) -> list[tuple]:
    """``(name, select, conf)`` per output of ``config``: ``sink`` or
    each ``sinks`` entry, then ``dlq``. The first is the primary
    output. Raises SystemExit for a config `validate` rejects."""
    unknown = sorted(set(config) - _CONFIG_KEYS)
    if unknown:
        raise SystemExit(
            f"unknown config key(s) {unknown}; known: {sorted(_CONFIG_KEYS)}. "
            "A streaming config with 2 or more outputs always runs ONE "
            "foreachBatch query that writes each output exactly once, with the "
            "checkpointLocation, queryName and availableNow of the primary "
            "output (`sink`, else `sinks[0]`)"
        )
    if "sink" not in config and "sinks" not in config:
        raise SystemExit("config missing 'sink' (or 'sinks')")
    if "sink" in config and "sinks" in config:
        raise SystemExit("config has both 'sink' and 'sinks'; pick one")
    side = 0 if "dlq" in config else None
    named = [("sink", config["sink"])] if "sink" in config else [
        (f"sinks.{i}", s) for i, s in enumerate(config["sinks"])
    ]
    if "dlq" in config:
        named.append(("dlq", config["dlq"]))
    outputs = []
    for name, conf in named:
        if "format" not in conf:
            raise SystemExit(f"{name} missing 'format'")
        conf = dict(conf)
        flt = conf.pop("filter", None)
        outputs.append((name, _select(flt, 1 if name == "dlq" else side), conf))
    if config["source"].get("stream") and len(outputs) > 1:
        primary = outputs[0][2]
        if "checkpointLocation" not in primary:
            raise SystemExit(
                f"{outputs[0][0]}: a streaming config with 2 or more outputs "
                "needs a checkpointLocation on its primary output"
            )
        for name, _, conf in outputs:
            if conf["format"] in _PATHLESS or "path" not in conf:
                raise SystemExit(
                    f"{name}: format '{conf['format']}'"
                    + ("" if "path" in conf else " without a path")
                    + " cannot be one of 2 or more streaming outputs; each output "
                    "commits its micro-batch files by rename, so it needs a file "
                    "format and a path"
                )
            if "availableNow" in conf and bool(conf["availableNow"]) != bool(
                primary.get("availableNow")
            ):
                raise SystemExit(
                    f"{name}: availableNow differs from the primary output's; "
                    "the one streaming query takes its trigger from the primary output"
                )
    return outputs


def _compile(config: dict, app_name: str):
    """Shared session + source + pipeline compilation for run/explain —
    ONE code path so `explain` always predicts exactly what `run`
    executes (new source registrations land in both automatically)."""
    from .pipeline import Pipeline, read_source
    from .session import get_spark
    from .sources import register_es_bulk, register_generator, register_spool

    spark = get_spark(app_name)
    register_generator(spark)
    register_spool(spark)
    register_es_bulk(spark)
    pipe = Pipeline.from_config(config)
    df = read_source(spark, config["source"])
    return spark, pipe.apply(df)


def _write_outputs(frame, outputs: list[tuple], batch_id: int | None = None) -> None:
    """Write every output of ``frame`` from one pass: with 2 or more
    outputs the frame is persisted once and each output filters the
    cached rows, so the source scan and the step chain run once. A
    batch ``frame`` is written with `write_sink`; a micro-batch
    (``batch_id`` set) is committed per output by `_commit_batch`."""
    from .pipeline import write_sink

    shared = len(outputs) > 1
    if shared:
        frame = frame.persist()
    try:
        for name, select, conf in outputs:
            if batch_id is None:
                write_sink(select(frame), conf)
            else:
                _commit_batch(select(frame), name, conf, batch_id)
    finally:
        if shared:
            frame.unpersist()


def _start_stream(out, outputs: list[tuple]):
    """Start the ONE streaming query that writes ``outputs``: Spark's
    own sink for a single output (exactly-once through its sink log),
    else a foreachBatch query over `_write_outputs` that commits every
    output under the primary output's checkpoint. Either way, an output
    path is refused where the reader of the directory would not list
    the rows already in it, or would not list the rows this run adds."""
    from .pipeline import write_sink

    fs = _HadoopFs(out.sparkSession)
    if len(outputs) == 1:
        name, select, conf = outputs[0]
        path = conf.get("path")
        if conf["format"] in _FILE_SINK_FORMATS and path and not fs.exists(f"{path}/_spark_metadata"):
            data = [f for f in fs.glob(f"{path}/*") if not f.rsplit("/", 1)[1].startswith(("_", "."))]
            if data:
                raise SystemExit(
                    f"{name}: {path} holds data files but no _spark_metadata; a "
                    "one-output streaming run writes through Spark's file sink, "
                    "which starts that log here, and readers of the directory then "
                    "list only the logged files, hiding the rows already there. "
                    "Write this output to a new path."
                )
        return write_sink(select(out), conf)
    for name, _, conf in outputs:
        if fs.exists(f"{conf['path']}/_spark_metadata"):
            raise SystemExit(
                f"{name}: {conf['path']} holds _spark_metadata, the log of a "
                "streaming file sink; readers of that directory list only the "
                "files in that log and would ignore every file this run commits. "
                "Write this output to a new path."
            )
    primary = outputs[0][2]
    committed = [
        (name, select, {**conf, "checkpointLocation": primary["checkpointLocation"]})
        for name, select, conf in outputs
    ]
    query = {k: primary[k] for k in ("checkpointLocation", "queryName", "availableNow") if k in primary}
    return write_sink(
        out,
        {"format": "foreachBatch",
         "function": lambda frame, batch_id: _write_outputs(frame, committed, batch_id),
         **query},
    )


class _HadoopFs:
    """The Hadoop FileSystem calls of the commit protocol, each on the
    FileSystem of its own path (local, HDFS or an object store)."""

    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._conf = spark._jsparkSession.sessionState().newHadoopConf()

    def _at(self, path: str):
        p = self._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self._conf), p

    def exists(self, path: str) -> bool:
        fs, p = self._at(path)
        return fs.exists(p)

    def glob(self, pattern: str) -> list[str]:
        """The paths matching ``pattern`` (none if its directory is absent)."""
        fs, p = self._at(pattern)
        return [st.getPath().toString() for st in fs.globStatus(p) or []]

    def rename(self, src: str, dst: str) -> None:
        fs, p = self._at(src)
        if not fs.rename(p, self._at(dst)[1]):
            raise OSError(f"rename {src} -> {dst} failed")

    def delete(self, path: str) -> None:
        fs, p = self._at(path)
        fs.delete(p, True)

    def read(self, path: str) -> str:
        fs, p = self._at(path)
        stream = fs.open(p)
        try:
            return self._jvm.java.util.Scanner(stream, "UTF-8").useDelimiter("\\A").next()
        finally:
            stream.close()

    def touch(self, path: str) -> None:
        fs, p = self._at(path)
        fs.create(p, True).close()


def _commit_batch(df, name: str, conf: dict, batch_id: int) -> None:
    """Write micro-batch ``batch_id`` of output ``name`` exactly once.

    The commit is marked by the file ``<checkpoint>/outputs/<name>/<batch_id>``;
    a replayed batch whose marker exists is skipped. Otherwise the batch
    is staged under ``<path>/_staging/<batch_id>`` (readers skip
    ``_``-prefixed names), its files are renamed into ``<path>`` with the
    prefix ``<query id>-b<batch_id>-``, and the marker is written. A
    replay that finds no marker first deletes the files with its own
    prefix, left by an attempt that failed between rename and marker;
    files of other queries or batches are never touched. The query id
    is the one in ``<checkpoint>/metadata``, stable across restarts."""
    from .pipeline import write_sink

    fs = _HadoopFs(df.sparkSession)
    ck = conf["checkpointLocation"]
    marker = f"{ck}/outputs/{name}/{batch_id}"
    if fs.exists(marker):
        return
    path = conf["path"]
    prefix = f"{json.loads(fs.read(f'{ck}/metadata'))['id']}-b{batch_id}-"
    for earlier in fs.glob(f"{path}/{prefix}*"):
        fs.delete(earlier)
    staging = f"{path}/_staging/{batch_id}"
    options = {k: v for k, v in conf.items()
               if k not in ("checkpointLocation", "queryName", "availableNow", "mode")}
    write_sink(df, {**options, "path": staging, "mode": "overwrite"})
    for staged in fs.glob(f"{staging}/*"):
        fname = staged.rsplit("/", 1)[1]
        if not fname.startswith(("_", ".")):  # _SUCCESS
            fs.rename(staged, f"{path}/{prefix}{fname}")
    fs.delete(staging)
    fs.touch(marker)


def cmd_run(config: dict, await_seconds: int | None) -> None:
    outputs = _outputs(config)
    _, out = _compile(config, "eventstreams-pipeline")
    if not out.isStreaming:
        _write_outputs(out, outputs)
    else:
        q = _start_stream(out, outputs)
        q.awaitTermination(await_seconds) if await_seconds else q.awaitTermination()
    print("done")


def cmd_explain(config: dict) -> None:
    """Compile the pipeline and print its physical plan plus its plan
    digest (the scan, exchange, join, Python-eval and operator counts
    that tests/plan_digest.json holds for registry queries) WITHOUT
    running it — the pre-flight check for 'will this config shuffle
    my 100 TB corpus more than it must'. A streaming chain has no
    executed plan until a query starts, so for it the digest line says
    that the digest covers batch configs only."""
    from .plans import formatted_plan, plan_digest

    _, out = _compile(config, "eventstreams-explain")
    print(formatted_plan(out))
    if out.isStreaming:
        print("-- digest: none for a streaming config; the digest covers batch configs only")
    else:
        print("-- digest:", json.dumps(plan_digest(out), sort_keys=True))


def cmd_index(sf_dir: str, prune: bool = False) -> None:
    """Pre-build the shared suffix-array index for a corpus dir — the
    explicit form of the build-on-miss materialization every
    L2-suffixarray query does implicitly (SCALE.md §24). A production
    run schedules this right after a corpus snapshot lands so the
    first analyst query doesn't pay the build. ``--prune``
    additionally evicts stale fingerprint entries for the SAME input
    dir (a re-minted corpus leaves the old entry as a dead directory
    otherwise) and sweeps crashed builders' tmp dirs."""
    from .queries.llm import (
        _sa_cache_path,
        _suffix_array_lcp_frame,
        sa_cache_prune,
    )
    from .session import get_spark

    spark = get_spark("eventstreams-index")
    frame = _suffix_array_lcp_frame(spark, sf_dir)
    print(f"index ready: {_sa_cache_path(sf_dir)} ({frame.count()} suffixes)")
    if prune:
        kept, removed = sa_cache_prune(sf_dir)
        print(f"pruned {len(removed)} stale entr{'y' if len(removed) == 1 else 'ies'}, {len(kept)} kept")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="eventstreams_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("run", "validate", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("config")
        if name == "run":
            sp.add_argument("--await-seconds", type=int, default=None)
    sub.add_parser("list-steps")
    sp = sub.add_parser("index")
    sp.add_argument("sf_dir")
    sp.add_argument("--prune", action="store_true")
    args = p.parse_args(argv)

    if args.cmd == "list-steps":
        from .pipeline import step_types

        print("\n".join(step_types()))
        return
    if args.cmd == "index":
        cmd_index(args.sf_dir, prune=args.prune)
        return
    config = load_config(args.config)
    if args.cmd == "validate":
        cmd_validate(config)
    elif args.cmd == "explain":
        cmd_explain(config)
    else:
        cmd_run(config, args.await_seconds)


if __name__ == "__main__":
    main()
